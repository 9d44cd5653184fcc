"""sf1-scale stress rep of the dedup family (VERDICT r03 item 10).

No sf1 fixture exists, so this builds one: a 10x near-duplicate-heavy
corpus (50k documents / 20k embeddings) derived from sf0.1 — replica 0
is the original; replicas 1-9 append a replica token (near-dups for the
text family) and reuse the embedding verbatim (worst-case duplicate
groups for the cosine family). That makes every document a member of a
~10-strong duplicate cluster: a deliberately ADVERSARIAL distribution
for LSH banding, whose join cost is Σ bucket².

    python scripts/stress_dedup.py [--replicas 10]

Prints per-query wall time at sf0.1 vs the synthetic sf1, candidate-pair
counts, and the largest band-bucket sizes; findings go into PLANS.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/kws_sf1"
ID_STRIDE = 1_000_000


def build_corpus(replicas: int) -> None:
    import duckdb

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(f"{DST}/documents.parquet", exist_ok=True)
    os.makedirs(f"{DST}/embeddings.parquet", exist_ok=True)
    con = duckdb.connect()
    for i in range(replicas):
        suffix = "" if i == 0 else f" || ' replica token r{i}'"
        con.execute(
            f"""
            COPY (
              SELECT doc_id + {i * ID_STRIDE} AS doc_id, text{suffix} AS text,
                     lang, source, n_chars
              FROM '{SRC}/documents.parquet'
            ) TO '{DST}/documents.parquet/part-{i:02d}.parquet' (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              SELECT vec_id + {i * ID_STRIDE} AS vec_id, embedding, label
              FROM '{SRC}/embeddings.parquet'
            ) TO '{DST}/embeddings.parquet/part-{i:02d}.parquet' (FORMAT PARQUET)
            """
        )
    con.close()


BOILERPLATE = (
    "This content is provided as-is without warranty of any kind. "
    "All rights reserved. Reproduction prohibited."
)


def build_boilerplate_corpus(replicas: int, frac_pct: int = 50) -> None:
    """sf1*-style documents with ONE shared boilerplate paragraph appended
    to ``frac_pct`` % of documents — a single digest occurring in half the
    corpus, the adversarial distribution for any per-digest shuffle."""
    import duckdb

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(f"{DST}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    for i in range(replicas):
        con.execute(
            f"""
            COPY (
              SELECT doc_id + {i * ID_STRIDE} AS doc_id,
                     CASE WHEN (doc_id + {i}) % 100 < {frac_pct}
                          THEN text || chr(10) || '{BOILERPLATE}'
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM '{SRC}/documents.parquet'
            ) TO '{DST}/documents.parquet/part-{i:02d}.parquet' (FORMAT PARQUET)
            """
        )
    con.close()


def _dedup_paragraphs_window_shape(docs, id_col="doc_id", text_col="text",
                                   sep="\n", min_chars=1):
    """The PRE-round-5 corpus-scope shape: first-occurrence decided by a
    corpus-wide row_number() window PARTITIONED BY digest — the form the
    aggregate rewrite replaced. Kept here (script-only) as the timed
    baseline for the skew stress; semantics identical on corpora without
    (id, pos) ties."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    exploded = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para")
    ).withColumn("__meaningful", F.length(F.trim(F.col("__para"))) >= min_chars)
    digested = exploded.withColumn("__digest", F.md5(F.col("__para")))
    w = W.partitionBy("__digest").orderBy(id_col, "__pos")
    ranked = digested.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__keep", (~F.col("__meaningful")) | (F.col("__rn") == 1)
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text_col),
            F.count("*").alias("n_paragraphs"),
            F.sum((~F.col("__keep")).cast("bigint")).alias("n_dropped"),
        )
    )


def _max_task_ms(spark, job_group: str) -> int | None:
    """Max completed-task duration (ms) across the stages of the jobs in
    ``job_group``, via the UI REST API; None if the UI is unavailable."""
    import json as _json
    from urllib.request import urlopen

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        apps = _json.load(urlopen(f"{base}/api/v1/applications", timeout=5))
        app_id = apps[0]["id"]
        jobs = _json.load(urlopen(f"{base}/api/v1/applications/{app_id}/jobs", timeout=5))
        stage_ids = sorted(
            {s for j in jobs if j.get("jobGroup") == job_group for s in j["stageIds"]}
        )
        worst = 0
        for sid in stage_ids:
            try:
                summ = _json.load(
                    urlopen(
                        f"{base}/api/v1/applications/{app_id}/stages/{sid}/0/"
                        "taskSummary?quantiles=1.0",
                        timeout=5,
                    )
                )
                worst = max(worst, int(summ["duration"][0]))
            except Exception:
                continue
        return worst or None
    except Exception:
        return None


def run_paragraph_stress(replicas: int) -> int:
    """VERDICT r05 #3: time the corpus-scope paragraph dedup old shape
    (digest-partitioned window) vs new shape (partial min(struct)
    aggregate) on a corpus where ONE digest occurs in 50% of documents,
    and record wall time + max single-task duration."""
    build_boilerplate_corpus(replicas)

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_paragraph_dedup")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.operators.text import dedup_paragraphs
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, DST, "documents").select("doc_id", "text")
    n_docs = docs.count()  # warm the scan
    print(f"== boilerplate corpus: {n_docs} docs, 1 digest in ~50% of them")
    shapes = {
        "window (old)": lambda: _dedup_paragraphs_window_shape(docs),
        "aggregate (new)": lambda: dedup_paragraphs(docs, scope="corpus"),
    }
    results = {}
    for tag, build in shapes.items():
        sc = spark.sparkContext
        group = f"para-{tag.split()[0]}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        out = build().select("doc_id", "n_dropped")
        dropped = out.agg({"n_dropped": "sum"}).first()[0]
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        worst = _max_task_ms(spark, group)
        results[tag] = (wall, worst, dropped)
        print(
            f"{tag:16s} wall={wall:6.2f}s max_task="
            f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
            f"total_dropped={dropped}",
            flush=True,
        )
    spark.stop()
    return 0


#: a 60-token licence block — longer than the paper's k=50, so the k=50
#: windows inside it are duplicated across every document that carries it
LICENCE_BLOCK = " ".join(
    (
        "this software is provided by the copyright holders and contributors "
        "as is and any express or implied warranties including but not limited "
        "to the implied warranties of merchantability and fitness for a "
        "particular purpose are disclaimed in no event shall the copyright "
        "holder or contributors be liable for any direct indirect incidental "
        "special exemplary or consequential damages however caused and on any "
        "theory of liability arising in any way out of the use of this software"
    ).split()[:60]
)


def _dedup_substrings_window_shape(docs, k=50, id_col="doc_id", text_col="text"):
    """The naive first-occurrence shape for dedup_substrings: a corpus-wide
    row_number() window PARTITIONED BY window hash. Script-only baseline —
    on a boilerplate-heavy corpus each hot hash's full occurrence set
    sorts on ONE task, which is what the shipped min(struct) aggregate
    avoids. Semantics identical (no (id, pos) ties by construction)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.dedup import barrier
    from kafka_workers_spark.operators.text import word_shingles

    staged = barrier(docs.select(id_col, F.split(F.col(text_col), " ").alias("__toks")))
    win_hashes = F.transform(
        word_shingles(F.col("__toks"), k), lambda s: F.substring(F.md5(s), 1, 16)
    )
    occ = staged.select(id_col, F.posexplode(win_hashes).alias("__pos", "__h"))
    w = W.partitionBy("__h").orderBy(id_col, "__pos")
    ranked = (
        occ.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count("*").over(W.partitionBy("__h")))
        .filter((F.col("__cnt") > 1) & (F.col("__rn") > 1))
    )
    drops = ranked.groupBy(id_col).agg(F.collect_list("__pos").alias("__wins"))
    covered = F.array_distinct(
        F.flatten(F.transform("__wins", lambda x: F.sequence(x, x + k - 1)))
    )
    joined = staged.join(drops, id_col, "left").withColumn(
        "__cov", F.when(F.col("__wins").isNotNull(), covered)
    )
    kept = F.when(F.col("__cov").isNull(), F.col("__toks")).otherwise(
        F.filter(F.col("__toks"), lambda t, i: ~F.array_contains(F.col("__cov"), i))
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias(text_col),
        F.coalesce(F.size("__cov"), F.lit(0)).cast("bigint").alias("n_removed"),
    )


def run_substr_stress(replicas: int) -> int:
    """Timed skew rep for dedup_substrings: a corpus where ONE 60-token
    licence block is appended to 50% of documents, so each k=50 window
    inside the block occurs in half the corpus — the hot-hash
    distribution the operator's min(struct) aggregate is built for.
    Times the shipped aggregate shape against the naive window shape and
    asserts identical total tokens removed."""
    import duckdb

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(f"{DST}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    for i in range(replicas):
        con.execute(
            f"""
            COPY (
              SELECT doc_id + {i * ID_STRIDE} AS doc_id,
                     CASE WHEN (doc_id + {i}) % 100 < 50
                          THEN text || ' ' || '{LICENCE_BLOCK}'
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM '{SRC}/documents.parquet'
            ) TO '{DST}/documents.parquet/part-{i:02d}.parquet' (FORMAT PARQUET)
            """
        )
    con.close()

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_substr_dedup")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.text import dedup_substrings
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, DST, "documents").select("doc_id", "text")
    n_docs = docs.count()  # warm the scan
    print(f"== licence corpus: {n_docs} docs, one 60-token block in ~50%")
    shapes = {
        "window (naive)": lambda: _dedup_substrings_window_shape(docs, k=50),
        "aggregate (shipped)": lambda: dedup_substrings(docs, k=50),
    }
    removed = {}
    for tag, build in shapes.items():
        sc = spark.sparkContext
        group = f"substr-{tag.split()[0]}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        stats = build().agg(
            F.sum("n_removed").alias("toks"),
            F.sum((F.col("n_removed") > 0).cast("bigint")).alias("docs"),
        ).first()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        worst = _max_task_ms(spark, group)
        removed[tag] = (stats.toks, stats.docs)
        print(
            f"{tag:20s} wall={wall:6.2f}s max_task="
            f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
            f"tokens_removed={stats.toks} docs_touched={stats.docs}",
            flush=True,
        )
    a, b = removed.values()
    assert a == b, f"aggregate shape diverged from the naive window: {removed}"
    spark.stop()
    return 0


def run_lm_stress(replicas: int) -> int:
    """Scale rep for bigram_lm_score: self-score sf0.1 and the replicas×
    corpus (build_corpus — every document in an N-strong near-duplicate
    cluster, so bigram counts are N× hot: "of the"-style transitions
    grow linearly with corpus size, stressing the partial aggregates
    and the 1-to-N scoring join)."""
    build_corpus(replicas)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_lm")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.operators.text import bigram_lm_score
    from kafka_workers_spark.sources.files import load_table

    for sf_dir, tag in ((SRC, "sf0.1"), (DST, f"sf1* ({replicas}x)")):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.count()  # warm the scan
        sc = spark.sparkContext
        group = f"lm-{tag.split()[0]}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        stats = bigram_lm_score(docs).agg(
            F.count("*").alias("rows"),
            F.sum("n_bigrams").alias("transitions"),
            F.avg("ppl").alias("mean_ppl"),
        ).first()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        worst = _max_task_ms(spark, group)
        print(
            f"bigram_lm_score {tag:12s} wall={wall:6.2f}s max_task="
            f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
            f"docs={stats.rows} transitions={stats.transitions} "
            f"mean_ppl={stats.mean_ppl:.3f}",
            flush=True,
        )

    # Zipf-skew rep (VERDICT r06 #3): natural-language token frequency is
    # Zipfian, so the scoring join's __prev key is skewed by construction.
    # Build a corpus with the skew cranked: token ids ~ floor(1/u) capped,
    # u deterministic-uniform — P(t1) = 50%, so the (t1, t1) bigram is
    # ~25% of ALL transitions, one brutal hot key, which the unhinted
    # scoring joins leave to AQE's skew split.
    import duckdb

    zipf_dir = "/tmp/kws_zipf"
    shutil.rmtree(zipf_dir, ignore_errors=True)
    os.makedirs(f"{zipf_dir}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT i AS doc_id,
                 string_agg(
                   't' || LEAST(CAST(FLOOR(1000000.0 / ((hash(i * 37 + j.j) % 999999) + 1))
                                AS BIGINT), 2000),
                   ' ' ORDER BY j.j) AS text,
                 'en' AS lang, 'zipf' AS source, 0 AS n_chars
          FROM range(100000) r(i), range(30) j(j)
          GROUP BY i
        ) TO '{zipf_dir}/documents.parquet/part-00.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    zdocs = load_table(spark, zipf_dir, "documents").select("doc_id", "text")
    zdocs.count()
    tag = "zipf-shuffle"
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    t0 = time.perf_counter()
    stats = (
        bigram_lm_score(zdocs)
        .agg(
            F.count("*").alias("rows"),
            F.sum("n_bigrams").alias("transitions"),
            F.sum("sum_bigram_count").alias("sbc"),
            F.sum("sum_context_count").alias("scc"),
        )
        .first()
    )
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    worst = _max_task_ms(spark, tag)
    print(
        f"bigram_lm_score {tag:14s} wall={wall:6.2f}s max_task="
        f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
        f"docs={stats.rows} transitions={stats.transitions} "
        f"sbc={stats.sbc} scc={stats.scc}",
        flush=True,
    )
    spark.stop()
    return 0


def run_cap_stress(replicas: int) -> int:
    """Timed skew rep for cap_per_key's two-path plan: a corpus where one
    key holds ~50% of all rows (the exact distribution the operator
    exists for), timed against the naive global window the oracle uses.
    Identical surviving row COUNTS are asserted; the subsets differ only
    if coins collide (they don't — ids are unique)."""
    import duckdb

    from pyspark.sql import SparkSession, Window as W
    from pyspark.sql import functions as F

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(f"{DST}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    for i in range(replicas):
        # half of each replica lands in one hot pseudo-source
        con.execute(
            f"""
            COPY (
              SELECT doc_id + {i * ID_STRIDE} AS doc_id, text, lang,
                     CASE WHEN doc_id % 2 = 0 THEN 'hot-domain'
                          ELSE source || '-{i}' END AS source,
                     n_chars
              FROM '{SRC}/documents.parquet'
            ) TO '{DST}/documents.parquet/part-{i:02d}.parquet' (FORMAT PARQUET)
            """
        )
    con.close()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_cap")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.pipeline import cap_per_key
    from kafka_workers_spark.sources.files import load_table

    CAP = 100
    docs = load_table(spark, DST, "documents").select("doc_id", "source")
    n = docs.count()  # warm scan
    hot = docs.filter(F.col("source") == "hot-domain").count()
    print(f"== cap corpus: {n} rows, hot key holds {hot} ({100.0 * hot / n:.0f}%)")

    def naive():
        coin = F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string")))
        w = W.partitionBy("source").orderBy(coin.asc(), F.col("doc_id").asc())
        return (
            docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= CAP)
            .drop("__rn")
        )

    shapes = {
        "global window (naive)": naive,
        "two-path cap_per_key": lambda: cap_per_key(docs, ["source"], CAP),
    }
    kept_counts = {}
    for tag, build in shapes.items():
        sc = spark.sparkContext
        group = f"cap-{tag.split()[0]}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        kept = build().count()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        worst = _max_task_ms(spark, group)
        kept_counts[tag] = kept
        print(
            f"{tag:24s} wall={wall:6.2f}s max_task="
            f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} kept={kept}",
            flush=True,
        )
    a, b = kept_counts.values()
    assert a == b, f"two-path diverged from the naive window: {kept_counts}"
    spark.stop()
    return 0


def run_phrase_stress() -> int:
    """Zipf-skew rep for phrase_scores: the same deterministic Zipf
    corpus as the --lm rep (P(t1) = 50%, the (t1, t1) pair ~25% of all
    adjacent pairs), so the unigram scoring joins carry one brutal hot
    lhs/rhs key, which the unhinted scoring joins leave to AQE's skew
    split — the bigram_lm_score stress shape applied to the collocation
    miner."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_phrases")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.operators.text import phrase_scores
    from kafka_workers_spark.sources.files import load_table

    import duckdb

    zipf_dir = "/tmp/kws_zipf_phr"
    shutil.rmtree(zipf_dir, ignore_errors=True)
    os.makedirs(f"{zipf_dir}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT i AS doc_id,
                 string_agg(
                   't' || LEAST(CAST(FLOOR(1000000.0 / ((hash(i * 37 + j.j) % 999999) + 1))
                                AS BIGINT), 2000),
                   ' ' ORDER BY j.j) AS text,
                 'en' AS lang, 'zipf' AS source, 0 AS n_chars
          FROM range(100000) r(i), range(30) j(j)
          GROUP BY i
        ) TO '{zipf_dir}/documents.parquet/part-00.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    zdocs = load_table(spark, zipf_dir, "documents").select("doc_id", "text")
    zdocs.count()
    tag = "phr-shuffle"
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    t0 = time.perf_counter()
    stats = (
        phrase_scores(zdocs, delta=2, threshold=(11, 10))
        .agg(
            F.count("*").alias("pairs"),
            F.sum("pair_cnt").alias("occurrences"),
            F.sum(F.col("is_phrase").cast("bigint")).alias("phrases"),
        )
        .first()
    )
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    worst = _max_task_ms(spark, tag)
    print(
        f"phrase_scores {tag:14s} wall={wall:6.2f}s max_task="
        f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
        f"pairs={stats.pairs} occurrences={stats.occurrences} "
        f"phrases={stats.phrases}",
        flush=True,
    )
    spark.stop()
    return 0



def run_cc_stress() -> int:
    """Topology rep for connected_components: chains (the wavefront-depth
    worst case the label shortcuts target) plus dense cliques (the
    near-dup common case). Asserts the exact expected component count and
    prints which path ran (``local``: the driver-side solve of an edge
    list that fits one partition, as these ~27k edges do; ``loop``: the
    round loop), rounds + wall — the measured basis for the operator's
    docstring claims."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.components import connected_components

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_cc")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    hops, n_chains = 40, 200          # 200 paths, each 41 nodes / depth 40
    clique_n, clique_m = 100, 20      # 100 cliques of 20 (near-dup shape)
    chain_base = 0
    clique_base = 10_000_000
    chain_edges = (
        spark.range(0, n_chains * hops)
        .select(
            (chain_base + (F.col("id") / hops).cast("long") * (hops + 1)
             + F.col("id") % hops).alias("doc_a")
        )
        .withColumn("doc_b", F.col("doc_a") + 1)
    )
    m = spark.range(0, clique_m).select(F.col("id").alias("i"))
    clique_edges = (
        spark.range(0, clique_n)
        .select((clique_base + F.col("id") * clique_m).alias("base"))
        .crossJoin(m.alias("a"))
        .crossJoin(m.withColumnRenamed("i", "j").alias("b"))
        .where(F.col("i") < F.col("j"))
        .select(
            (F.col("base") + F.col("i")).alias("doc_a"),
            (F.col("base") + F.col("j")).alias("doc_b"),
        )
    )
    edges = chain_edges.union(clique_edges)
    n_edges = edges.count()
    expected_comps = n_chains + clique_n
    print(f"edges={n_edges} (chains {n_chains}x depth {hops}, cliques {clique_n}x{clique_m})")

    stats: dict = {}
    t0 = time.perf_counter()
    comp = connected_components(edges, max_rounds=64, stats=stats).persist()
    n_nodes = comp.count()
    wall = time.perf_counter() - t0
    n_comps = comp.select("comp").distinct().count()
    path = "local" if stats["rounds"] == 0 else "loop"
    print(
        f"path={path} rounds={stats['rounds']} wall={wall:.2f}s "
        f"nodes={n_nodes} components={n_comps}"
    )
    assert n_comps == expected_comps, (n_comps, expected_comps)
    comp.unpersist()
    spark.stop()
    return 0


def run_pagerank_stress() -> int:
    """Skewed-graph rep for pagerank: ~1M deterministic edges over 200k
    nodes with 100 hash-built hubs drawing ~20% of all in-edges — the
    in-degree skew a web/citation graph shows. Measures wall for 5
    damped rounds, checks the structural claims: hubs dominate the
    ranking, total mass stays under the scale (dangling leak), and
    every round shuffles only (node, r9) longs. The measured basis for
    the operator's scale docstring."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.components import PAGERANK_SCALE, pagerank

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_pagerank")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_nodes, n_edges, n_hubs = 200_000, 1_000_000, 100
    base = spark.range(n_edges)
    edges = base.select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) == 0,  # ~20% to hubs
            F.pmod(F.xxhash64("id", F.lit(4)), F.lit(n_hubs)),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)))
        .alias("dst"),
    )
    t0 = time.perf_counter()
    ranks = pagerank(edges, iters=5).persist()
    n = ranks.count()
    wall = time.perf_counter() - t0
    top = [r.node for r in ranks.orderBy(F.desc("r9"), "node").limit(n_hubs).collect()]
    hub_share = sum(1 for t in top if t < n_hubs) / n_hubs
    total_mass = ranks.agg(F.sum("r9")).collect()[0][0]
    print(
        f"pagerank 5 rounds over ~{n_edges} edges / {n} nodes: wall={wall:.2f}s "
        f"top-{n_hubs} hub share={hub_share:.2%} "
        f"mass={total_mass}/{PAGERANK_SCALE} ({total_mass / PAGERANK_SCALE:.4f})"
    )
    assert hub_share >= 0.95, hub_share  # the skew targets dominate the ranking
    assert 0 < total_mass <= PAGERANK_SCALE, total_mass
    ranks.unpersist()
    spark.stop()
    return 0


def run_hits_stress() -> int:
    """Skewed-graph rep for HITS on the pagerank stress topology (~1M
    deterministic edges over 200k nodes, 100 hash-built hubs drawing
    ~20% of in-edges): measures wall for 2 full rounds (4 half-steps,
    each an equi-join + aggregate + one-row max broadcast), checks the
    structural claims — the skew targets dominate the AUTHORITY
    ranking (they are what everyone points at), the per-half-step MAX
    normalization lands the top score exactly at the scale, and no
    score exceeds it (the integer overflow envelope the DECIMAL(38,0)
    product protects)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.components import PAGERANK_SCALE, hits

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_hits")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_nodes, n_edges, n_hubs = 200_000, 1_000_000, 100
    base = spark.range(n_edges)
    edges = base.select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) == 0,  # ~20% to hubs
            F.pmod(F.xxhash64("id", F.lit(4)), F.lit(n_hubs)),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)))
        .alias("dst"),
    )
    t0 = time.perf_counter()
    scores = hits(edges, rounds=2).persist()
    n = scores.count()
    wall = time.perf_counter() - t0
    top = [
        r.node
        for r in scores.orderBy(F.desc("auth9"), "node").limit(n_hubs).collect()
    ]
    hub_share = sum(1 for t in top if t < n_hubs) / n_hubs
    mx = scores.agg(
        F.max("auth9").alias("a"), F.max("hub9").alias("h")
    ).collect()[0]
    print(
        f"hits 2 rounds over ~{n_edges} edges / {n} nodes: wall={wall:.2f}s "
        f"top-{n_hubs} authority hub share={hub_share:.2%} "
        f"max auth9={mx.a} max hub9={mx.h} (scale {PAGERANK_SCALE})"
    )
    assert hub_share >= 0.95, hub_share
    assert mx.a == PAGERANK_SCALE and mx.h == PAGERANK_SCALE, mx
    scores.unpersist()
    spark.stop()
    return 0


def run_interval_stress(n_background: int, n_hot: int) -> int:
    """VERDICT r09 #4 / r10 #2 / r11 #2: the interval_overlap_join
    hot-bucket skew rep. A self-join workload with two populations:

    - ``n_background`` short intervals (~10-110 s) uniform over 30 days —
      the steady-state sessions/telemetry shape;
    - ``n_hot`` long intervals (~300-900 s) ALL inside one hour — the
      pathological concurrent cluster (flash crowd / incident window)
      that lands in the same time buckets.

    Runs the SAME join at three ``bucket_seconds`` choices and records
    wall + max single-task duration + exploded-row count. The pair count
    must be IDENTICAL across bucket choices (banding is exactness-
    neutral — the registered oracle's claim); what the bucket changes is
    Σ per-bucket |a|×|b| and how many of those candidates share one
    task. Findings + the bucket-picking rule go into PLANS.md."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.relational import interval_overlap_join

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_intervals")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    day_us = 86_400 * 1_000_000
    hot_start_us = 15 * day_us  # the incident hour opens at day 15
    bg = spark.range(n_background).select(
        F.col("id").alias("iid"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(30 * 86_400)).alias("__s"),
        (F.lit(10) + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100))).alias("__l"),
    )
    hot = spark.range(n_hot).select(
        (F.col("id") + n_background).alias("iid"),
        (
            F.lit(15 * 86_400)
            + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3_600))
        ).alias("__s"),
        (F.lit(300) + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(600))).alias("__l"),
    )
    iv = (
        bg.unionAll(hot)
        .select(
            "iid",
            F.timestamp_micros(F.col("__s") * 1_000_000).alias("s"),
            F.timestamp_micros((F.col("__s") + F.col("__l")) * 1_000_000).alias("e"),
        )
        .persist()
    )
    n_rows = iv.count()
    hot_in_hour = iv.filter(
        (F.unix_micros("s") >= hot_start_us)
        & (F.unix_micros("s") < hot_start_us + 3_600 * 1_000_000)
    ).count()
    print(
        f"== intervals: {n_rows} total ({n_background} background ~60s over 30d, "
        f"{n_hot} hot ~600s in one hour; {hot_in_hour} start inside the hot hour)"
    )

    left = iv.select(
        F.col("iid").alias("id_a"), F.col("s").alias("s_a"), F.col("e").alias("e_a")
    )
    right = iv.select(
        F.col("iid").alias("id_b"), F.col("s").alias("s_b"), F.col("e").alias("e_b")
    )
    counts = {}
    for bucket in (60, 600, 3600):
        sc = spark.sparkContext
        group = f"iv-{bucket}"
        sc.setJobGroup(group, f"bucket_seconds={bucket}")
        t0 = time.perf_counter()
        pairs = interval_overlap_join(
            left,
            right,
            "s_a",
            "e_a",
            "s_b",
            "e_b",
            bucket_seconds=bucket,
            extra_cond=F.col("id_a") < F.col("id_b"),
        )
        n_pairs = pairs.count()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        worst = _max_task_ms(spark, group)
        # explode factor: rows entering the equi-join per side
        step = bucket * 1_000_000
        exploded_rows = iv.select(
            (
                F.expr(f"unix_micros(e) DIV {step}")
                - F.expr(f"unix_micros(s) DIV {step}")
                + 1
            ).alias("nb")
        ).agg(F.sum("nb")).first()[0]
        counts[bucket] = n_pairs
        print(
            f"bucket={bucket:5d}s wall={wall:6.2f}s max_task="
            f"{'n/a' if worst is None else f'{worst / 1000.0:.2f}s'} "
            f"pairs={n_pairs} exploded_rows_per_side={exploded_rows}",
            flush=True,
        )
    assert len(set(counts.values())) == 1, f"bucket choice changed the answer: {counts}"
    print("pair counts identical across bucket choices (banding exactness holds)")
    iv.unpersist()
    spark.stop()
    return 0


def run_maintenance_stress(n_keys: int, n_trickle: int, batch_keys: int) -> int:
    """Round-12 bucketed-publish evidence (VERDICT r10 #5 / r11 #6): the
    whole-store fold rewrites O(table) per batch; the bucketed fold
    should rewrite only the touched buckets. Shape: one backfill batch
    over ``n_keys`` users, then ``n_trickle`` trickle batches of
    ``batch_keys`` users each (the continuous-stream shape the bucketed
    store exists for). Measures, per variant: wall, cumulative bytes
    PUBLISHED (the I/O a 100-TB store multiplies), and pins the final
    stores row-identical."""
    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: F401

    from kafka_workers_spark.streaming.maintenance import (
        read_bucketed_store,
        scd2_fold,
        scd2_fold_bucketed,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_maintenance")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import hashlib
    from datetime import datetime, timedelta

    t0g = datetime(2024, 1, 1)
    S = "user_id long, ts timestamp, event_type string, event_id long"

    def batch_df(b: int):
        if b == 0:
            # backfill built Spark-side: one observation per key
            return spark.range(n_keys).select(
                F.col("id").alias("user_id"),
                (
                    F.lit(t0g) + F.make_interval(secs=F.pmod(F.col("id"), F.lit(7)))
                ).alias("ts"),
                F.concat(F.lit("e"), F.pmod(F.col("id"), F.lit(5))).alias("event_type"),
                F.col("id").alias("event_id"),
            )
        users = [
            int(hashlib.md5(f"{b}:{i}".encode()).hexdigest()[:8], 16) % n_keys
            for i in range(batch_keys)
        ]
        rows = [
            (u, t0g + timedelta(seconds=b * 1000 + (u % 7)), f"e{(u + b) % 5}",
             b * 1_000_000 + u)
            for u in users
        ]
        return spark.createDataFrame(rows, S)

    def dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    tmp = tempfile.mkdtemp(prefix="kw_maint_stress_")
    args = (["user_id"], "ts", ["event_type"], "event_id")
    results = {}
    for tag, mk in (
        ("whole", lambda store: scd2_fold(spark, store, *args, lineage="L")),
        (
            "bucketed(256)",
            lambda store: scd2_fold_bucketed(
                spark, store, *args, n_buckets=256, lineage="L"
            ),
        ),
    ):
        store = os.path.join(tmp, tag.replace("(", "_").replace(")", ""))
        fold = mk(store)
        published = 0
        t0 = time.perf_counter()
        backfill_wall = 0.0
        for b in range(n_trickle + 1):
            df = batch_df(b)
            tb = time.perf_counter()
            if tag == "whole":
                fold(df, b)
                published += dir_bytes(store)  # every publish rewrites all
            else:
                before = {
                    d: os.path.getmtime(os.path.join(store, d))
                    for d in os.listdir(store)
                    if d.startswith("b=")
                } if os.path.exists(store) else {}
                fold(df, b)
                for d in os.listdir(store):
                    if not d.startswith("b="):
                        continue
                    p = os.path.join(store, d)
                    if d not in before or os.path.getmtime(p) > before[d]:
                        published += dir_bytes(p)
            if b == 0:
                backfill_wall = time.perf_counter() - tb
        wall = time.perf_counter() - t0
        results[tag] = (wall, published, store)
        print(
            f"{tag:14s} wall={wall:7.2f}s (backfill {backfill_wall:6.2f}s, "
            f"trickle {(wall - backfill_wall) / max(n_trickle, 1):5.2f}s/batch) "
            f"published={published / 1e6:9.1f} MB "
            f"(backfill {n_keys} keys + {n_trickle} trickle batches x {batch_keys} keys)",
            flush=True,
        )
    whole_rows = sorted(
        map(tuple, spark.read.parquet(results["whole"][2]).collect())
    )
    buck_rows = sorted(
        map(tuple, read_bucketed_store(spark, results["bucketed(256)"][2]).collect())
    )
    assert whole_rows == buck_rows, "bucketed fold diverged from whole-store fold"
    ratio = results["whole"][1] / max(results["bucketed(256)"][1], 1)
    print(f"final stores identical ({len(whole_rows)} rows); publish-I/O ratio whole/bucketed = {ratio:.1f}x")
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0


def run_pit_stress(n_facts: int, n_keys: int, versions_per_key: int) -> int:
    """pit_enrich's scale claim, measured: the JOIN-FREE union-window
    point-in-time lookup vs the interval-containment join on the same
    (facts, dim-history) workload. The containment join IS an equi-key
    join in Spark (key match + range residual), but it materializes
    ``versions_per_key`` candidate rows per fact before the residual
    filters them — the window form sorts facts+versions once and never
    fans out. Both paths must return row-identical results (asserted via
    exceptAll both ways) before the walls count."""
    import time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.relational import pit_enrich

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_pit")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    day_us = 86_400 * 1_000_000
    span_us = 30 * day_us
    step = span_us // versions_per_key
    # dim: versions_per_key versions per key, evenly spaced, jittered per
    # key so version boundaries don't align across keys; valid_to = next
    dim = (
        spark.range(n_keys * versions_per_key)
        .select(
            (F.col("id") % n_keys).alias("key"),
            F.expr(f"id DIV {n_keys}").alias("__v"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(step)).alias("__j"),
        )
        .select(
            "key",
            "__v",
            (F.col("__v") * step + F.col("__j")).alias("__from_us"),
        )
    )
    # valid_to = NEXT version's valid_from (lead), NOT from+step: the
    # jitter makes fixed-width intervals OVERLAP at version boundaries,
    # and overlapping versions multi-match the containment join (caught
    # by the row-count assert on the first run of this rep)
    from pyspark.sql import Window as W

    wlead = W.partitionBy("key").orderBy("__from_us")
    dim = dim.select(
        "key",
        F.timestamp_micros(F.col("__from_us")).alias("valid_from"),
        F.timestamp_micros(F.lead("__from_us").over(wlead)).alias("valid_to"),
        F.concat(F.lit("s"), F.pmod(F.xxhash64("key", "__v"), F.lit(1000))).alias(
            "state"
        ),
    )
    facts = spark.range(n_facts).select(
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n_keys)).alias("key"),
        F.col("id").alias("fact_id"),
        F.timestamp_micros(F.pmod(F.xxhash64("id", F.lit(13)), F.lit(span_us))).alias("fts"),
    )
    dim = dim.persist()
    facts = facts.persist()
    print(f"dim versions: {dim.count():,}  facts: {facts.count():,}", flush=True)

    t0 = time.time()
    win = pit_enrich(
        facts, dim, key="key", fact_ts="fts", dim_ts="valid_from",
        attrs=["state"], dim_tiebreak="valid_to",
    ).select("key", "fact_id", "fts", "state")
    n_win = win.count()
    t_win = time.time() - t0
    print(f"window form: {t_win:.1f}s  rows={n_win:,}", flush=True)

    t0 = time.time()
    j = (
        facts.join(
            dim,
            (facts["key"] == dim["key"])
            & (dim["valid_from"] <= facts["fts"])
            & (dim["valid_to"].isNull() | (facts["fts"] < dim["valid_to"])),
            "left",
        )
        .select(facts["key"], "fact_id", "fts", "state")
    )
    n_join = j.count()
    t_join = time.time() - t0
    print(f"containment join: {t_join:.1f}s  rows={n_join:,}", flush=True)

    assert n_win == n_join == n_facts, (n_win, n_join, n_facts)
    diff = win.exceptAll(j).count() + j.exceptAll(win).count()
    assert diff == 0, f"plans disagree on {diff} rows"
    print(
        f"row-identical; window/join wall ratio: {t_win / t_join:.2f} "
        f"(fan-out factor at play: {versions_per_key})",
        flush=True,
    )
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument(
        "--paragraphs",
        action="store_true",
        help="run the corpus-scope paragraph-dedup skew stress instead",
    )
    ap.add_argument(
        "--cap",
        action="store_true",
        help="run the cap_per_key hot-key skew stress instead",
    )
    ap.add_argument(
        "--substr",
        action="store_true",
        help="run the dedup_substrings hot-window skew stress instead",
    )
    ap.add_argument(
        "--lm",
        action="store_true",
        help="run the bigram_lm_score scale rep instead",
    )
    ap.add_argument(
        "--cc",
        action="store_true",
        help="run the connected-components chain/clique topology rep instead",
    )
    ap.add_argument(
        "--pagerank",
        action="store_true",
        help="run the pagerank skewed-graph rep instead",
    )
    ap.add_argument(
        "--hits",
        action="store_true",
        help="run the HITS skewed-graph rep instead",
    )
    ap.add_argument(
        "--phrases",
        action="store_true",
        help="run the phrase_scores Zipf-skew rep instead",
    )
    ap.add_argument(
        "--intervals",
        action="store_true",
        help="run the interval_overlap_join hot-bucket skew rep instead",
    )
    ap.add_argument("--n-background", type=int, default=500_000)
    ap.add_argument("--n-hot", type=int, default=5_000)
    ap.add_argument(
        "--maintenance",
        action="store_true",
        help="run the whole-store vs bucketed maintenance publish I/O rep instead",
    )
    ap.add_argument("--n-keys", type=int, default=20_000)
    ap.add_argument("--n-trickle", type=int, default=30)
    ap.add_argument("--batch-keys", type=int, default=20)
    ap.add_argument(
        "--pit",
        action="store_true",
        help="run the pit_enrich window-form vs containment-join rep instead",
    )
    ap.add_argument("--n-facts", type=int, default=2_000_000)
    ap.add_argument("--versions-per-key", type=int, default=50)
    args = ap.parse_args()
    if args.paragraphs:
        return run_paragraph_stress(args.replicas)
    if args.cap:
        return run_cap_stress(args.replicas)
    if args.substr:
        return run_substr_stress(args.replicas)
    if args.lm:
        return run_lm_stress(args.replicas)
    if args.phrases:
        return run_phrase_stress()
    if args.intervals:
        return run_interval_stress(args.n_background, args.n_hot)
    if args.maintenance:
        return run_maintenance_stress(args.n_keys, args.n_trickle, args.batch_keys)
    if args.pit:
        return run_pit_stress(args.n_facts, args.n_keys, args.versions_per_key)
    if args.pagerank:
        return run_pagerank_stress()
    if args.hits:
        return run_hits_stress()
    if args.cc:
        return run_cc_stress()
    build_corpus(args.replicas)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_dedup")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.queries import load_all

    reg = load_all()
    family = [
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
    ]
    print(f"== corpus: {args.replicas}x sf0.1 -> {DST}")
    for name in family:
        for sf_dir, tag in ((SRC, "sf0.1"), (DST, "sf1*")):
            t0 = time.perf_counter()
            n = reg[name].fn(spark, sf_dir).count()
            print(f"{name:28s} {tag:6s} {time.perf_counter() - t0:7.2f}s  rows={n}",
                  flush=True)

    # band-bucket skew for the LSH blocking join (dedup_minhash_lsh's
    # candidate generator): Σ bucket² is the pair-join cost driver
    from kafka_workers_spark.operators.dedup import lsh_bands, minhash_agg
    from kafka_workers_spark.operators.text import shingle_stage, tokenize_stage
    from kafka_workers_spark.sources.files import load_table

    for sf_dir, tag in ((SRC, "sf0.1"), (DST, "sf1*")):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        staged = shingle_stage(tokenize_stage(docs), 3, distinct=True)
        sigs = minhash_agg(staged, ["doc_id"], k=8)
        banded = sigs.select(
            "doc_id", F.explode(lsh_bands(F.col("sig"), 4, 2)).alias("bk")
        )
        stats = (
            banded.groupBy("bk")
            .count()
            .agg(
                F.count("*").alias("buckets"),
                F.max("count").alias("max_bucket"),
                F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
            )
            .first()
        )
        print(
            f"lsh buckets {tag:6s} buckets={stats.buckets} "
            f"max_bucket={stats.max_bucket} sum_sq={stats.sum_sq}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

