"""Deduplication queries over the `documents` / `embeddings` tables.

Five dedup families (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine), each oracle-checked against DuckDB replaying the exact
same md5-based signatures and integer fixed-point arithmetic. Pair
generation is always a blocking-key equi-join — the property that keeps
these linear-ish at 100 TB (see operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_workers_spark import store
from kafka_workers_spark.operators.dedup import (

    barrier,
    cosine_from_fixed,
    explode_fixed,
    norms_fixed,
    pairwise_dots_fixed,
    embedding_fixed,
    hamming32,
    lsh_bands,
    minhash_agg,
    minhash_agreement,
    simhash_agg,
    simhash_bands,
    sql_cosine_from_fixed,
    sql_dot_fixed,
    sql_embedding_fixed,
    sql_minhash_signature,
    sql_simhash,
)
from kafka_workers_spark.operators.text import (
    normalized,
    shingle_stage,
    sql_normalized,
    sql_word_shingles,
    tokenize_stage,
)
from kafka_workers_spark.queries import register
from kafka_workers_spark.sources.files import load_table

_TOKS_SQL = "string_split(text, ' ')"
_SHINGLES_SQL = sql_word_shingles(_TOKS_SQL, 3)
_NORM_SQL = sql_normalized("text")

MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
    category="dedup",
    # rotated to EXTRA round 7 (dedup_group_components took the driver
    # row — the transitive-closure resolution subsumes exact groups'
    # min-survivor semantics); this query stays under the identical
    # oracle via pytest's rotated-query test
    windowed=False,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-shuffle on the 16-byte digest of normalized
    text (never the payload); survivors = min doc_id per group."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalized(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidate pairs
# ---------------------------------------------------------------------------


def _sql_lsh_pairs() -> str:
    sig = sql_minhash_signature(_SHINGLES_SQL, MINHASH_K)
    band_key = (
        "md5(CAST(b AS VARCHAR) || ':' || sig[2*b + 1] || ':' || sig[2*b + 2])"
    )
    agree = (
        f"CAST(list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END"
        f" FOR i IN generate_series(1, {MINHASH_K})]) AS DOUBLE) / {MINHASH_K}"
    )
    return f"""
    WITH sigs AS (
      SELECT doc_id, {sig} AS sig FROM documents
    ), bands AS (
      SELECT doc_id, sig, b, {band_key} AS band_key
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
                          FOR i IN generate_series(1, {MINHASH_K})]) AS DOUBLE) / {MINHASH_K} AS est_jaccard
    FROM pairs
    """


@register("dedup_minhash_lsh", _sql_lsh_pairs(), category="dedup")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands × 2 rows) candidate pairs with estimated
    Jaccard. Plan: one scan computing signatures, explode 4 band structs,
    self-equi-join on (band, band_key) — never a cross join; AQE absorbs
    skewed buckets."""
    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(tokenize_stage(d.select("doc_id", "text")), 3)
    sigs = minhash_agg(staged, ["doc_id"], k=MINHASH_K)
    bands = sigs.select(
        "doc_id", "sig", F.explode(lsh_bands(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # computed BEFORE the pair dedup: est_jaccard is a function of
            # the pair's signatures, so deduping after is equivalent — and
            # the dropDuplicates shuffle carries one double per candidate
            # instead of two k-digest arrays (~8× lighter pair shuffle;
            # the recompute per duplicate band collision is 8 comparisons)
            minhash_agreement(F.col("a.sig"), F.col("b.sig"), MINHASH_K).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.select("doc_a", "doc_b", "est_jaccard")


def _sql_band_key_differs_note() -> None:  # pragma: no cover
    """The SQL band key indexes sig[2b+1], sig[2b+2] (1-based); the Spark
    side uses element_at(sig, 2b+1/2b+2) via lsh_bands — same elements."""


# ---------------------------------------------------------------------------
# SimHash signatures + near-pairs
# ---------------------------------------------------------------------------


@register(
    "dedup_simhash",
    f"""
    SELECT doc_id, {sql_simhash(_TOKS_SQL)} AS simhash
    FROM documents
    """,
    category="dedup",
    # rotated to EXTRA round 7 (text_phrase_mining took the driver row);
    # dedup_simhash_pairs keeps the SimHash family windowed, and this
    # signature query stays under the identical oracle via pytest's
    # rotated-query test
    windowed=False,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: tokenize stage + one codegen'd hash
    aggregate (32 partial SUMs shuffled per doc)."""
    d = load_table(spark, sf_dir, "documents")
    staged = tokenize_stage(d.select("doc_id", "text"))
    return simhash_agg(staged, ["doc_id"])


@register(
    "dedup_simhash_pairs",
    f"""
    WITH sigs AS (
      SELECT doc_id, {sql_simhash(_TOKS_SQL)} AS simhash FROM documents
    ), bands AS (
      SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS band_val
      FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS sh_a, b.simhash AS sh_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 6
    """,
    category="dedup",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming ≤ 6 over 32-bit SimHash. Blocking: any
    pair at distance ≤ 3 provably shares one of the 4 bytes (pigeonhole);
    the ≤ 6 output threshold keeps recall soft while the byte-band join
    keeps cost ~ Σ bucket² instead of n²."""
    d = load_table(spark, sf_dir, "documents")
    sigs = simhash_agg(tokenize_stage(d.select("doc_id", "text")), ["doc_id"])
    bands = sigs.select(
        "doc_id", "simhash", F.explode(simhash_bands(F.col("simhash"))).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        # Filter BEFORE the pair dedup: hamming is a function of the
        # pair's simhashes, so the result set is identical, but the
        # dropDuplicates shuffle now carries only near pairs instead of
        # every candidate (Catalyst cannot push this itself — after the
        # dedup rewrite the predicate references first(sh_a), a
        # non-grouping aggregate output).
        .filter(hamming32(F.col("sh_a"), F.col("sh_b")) <= 6)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = hamming32(F.col("sh_a"), F.col("sh_b"))
    return pairs.select("doc_a", "doc_b", ham.alias("hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, min-shingle blocked)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct([substr(md5(sh), 1, 16) FOR sh IN {_SHINGLES_SQL}]) AS hashes
      FROM documents
    ), keyed AS (
      SELECT doc_id, hashes, list_aggregate(hashes, 'min') AS block_key
      FROM docs WHERE len(hashes) > 0
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hashes AS h_a, b.hashes AS h_b
      FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(h_a, h_b)) AS DOUBLE)
             / len(list_distinct(h_a || h_b)) AS jaccard
    FROM pairs
    """,
    category="dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for pairs sharing their minimum shingle hash
    (1-hash MinHash blocking). The exact set arithmetic only runs inside
    blocks — the standard verify stage after LSH candidate generation.

    The pair shuffle carries 16-hex-char (64-bit) shingle digests, never
    the shingle text: Jaccard over the digest sets equals Jaccard over the
    shingle sets (collision odds are ~n²·2⁻⁶⁴ per doc — irrelevant, and
    the oracle hashes identically). Digests come from explode → md5 →
    collect_set (codegen'd aggregate), not an interpreted array lambda."""
    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(tokenize_stage(d.select("doc_id", "text")), 3, distinct=True)
    docs = (
        staged.select("doc_id", F.explode_outer("shingles").alias("__sh"))
        .select("doc_id", F.substring(F.md5("__sh"), 1, 16).alias("__h"))
        .groupBy("doc_id")
        .agg(F.collect_set("__h").alias("hashes"), F.min("__h").alias("block_key"))
        .filter(F.col("block_key").isNotNull())
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b, (F.col("a.block_key") == F.col("b.block_key")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.hashes").alias("h_a"),
        F.col("b.hashes").alias("h_b"),
    )
    jac = F.size(F.array_intersect("h_a", "h_b")).cast("double") / F.size(
        F.array_union("h_a", "h_b")
    )
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (label-blocked, fixed-point exact)
# ---------------------------------------------------------------------------

_EMB6 = sql_embedding_fixed("embedding")
_DIM = 64


@register(
    "dedup_embedding_cosine",
    f"""
    WITH vecs AS (
      SELECT vec_id, label, {_EMB6} AS v6,
             {sql_dot_fixed(_EMB6, _EMB6, _DIM)} AS norm6
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {sql_dot_fixed('a.v6', 'b.v6', _DIM)} AS dot6,
             a.norm6 AS na, b.norm6 AS nb
      FROM vecs a JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {sql_cosine_from_fixed('dot6', 'na', 'nb')} AS cosine
    FROM pairs
    WHERE {sql_cosine_from_fixed('dot6', 'na', 'nb')} >= 0.3
    """,
    category="dedup",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.3) blocked by cluster label —
    in production the label is a k-means assignment; all-pairs work happens
    only inside clusters. Fixed-point (×1e6) integer dot products make the
    cosine bit-identical across engines.

    Shape: long-format join-aggregate dots (operators.dedup.pairwise_dots_
    fixed) — whole-stage codegen end to end; no interpreted array lambdas
    (O(pairs·dim) lambda calls) and no Python workers in the hot path."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = barrier(
        e.select("vec_id", "label", embedding_fixed(F.col("embedding")).alias("v6"))
    )
    exploded = explode_fixed(vecs, ["vec_id", "label"])
    norms = norms_fixed(exploded, ["vec_id"])
    dots = pairwise_dots_fixed(exploded, id_col="vec_id", block_col="label")
    pairs = (
        dots.join(F.broadcast(norms.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("norm6", "na")), "vec_a")
        .join(F.broadcast(norms.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("norm6", "nb")), "vec_b")
    )
    cos = cosine_from_fixed(F.col("dot6"), F.col("na"), F.col("nb"))
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).filter(F.col("cosine") >= 0.3)


_ED_K = 4  # pairs within Levenshtein distance 4; pairs with _ED_KK below
_ED_KK = _ED_K + 1
# (the constants interpolate into BOTH the wrapper call and the oracle SQL
#  — change them together)


@register(
    "dedup_edit_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE text IS NOT NULL
    ),
    idx AS (
      SELECT doc_id AS ia, n AS ns, g.i,
             substr(text, CAST(g.i * (n // {_ED_KK}) + LEAST(g.i, n % {_ED_KK}) AS INT) + 1,
                    CAST(n // {_ED_KK} + CASE WHEN g.i < n % {_ED_KK} THEN 1 ELSE 0 END AS INT)) AS sub
      FROM d CROSS JOIN (SELECT UNNEST(range({_ED_KK})) AS i) g
      WHERE n >= {_ED_KK}
    ),
    probe AS (
      SELECT doc_id AS ib, ns.ns, g.i,
             substr(text, w.w + 1,
                    CAST(ns.ns // {_ED_KK} + CASE WHEN g.i < ns.ns % {_ED_KK} THEN 1 ELSE 0 END AS INT)) AS sub
      FROM d
      CROSS JOIN LATERAL (SELECT UNNEST(range(n - {_ED_K}, n + {_ED_K} + 1)) AS ns) ns
      CROSS JOIN (SELECT UNNEST(range({_ED_KK})) AS i) g
      CROSS JOIN LATERAL (
        SELECT UNNEST(range(
          GREATEST(0, g.i * (ns.ns // {_ED_KK}) + LEAST(g.i, ns.ns % {_ED_KK}) - {_ED_K}),
          LEAST(n - (ns.ns // {_ED_KK} + CASE WHEN g.i < ns.ns % {_ED_KK} THEN 1 ELSE 0 END),
                g.i * (ns.ns // {_ED_KK}) + LEAST(g.i, ns.ns % {_ED_KK}) + {_ED_K}) + 1
        )) AS w
      ) w
      WHERE ns.ns >= {_ED_KK} AND n >= {_ED_KK}
    ),
    cand AS (
      SELECT DISTINCT ia, ib FROM (
        SELECT idx.ia, probe.ib
        FROM idx JOIN probe ON idx.ns = probe.ns AND idx.i = probe.i AND idx.sub = probe.sub
        WHERE idx.ia < probe.ib
        UNION ALL
        SELECT LEAST(s.doc_id, o.doc_id) AS ia, GREATEST(s.doc_id, o.doc_id) AS ib
        FROM d s JOIN d o ON abs(o.n - s.n) <= {_ED_K} AND s.doc_id != o.doc_id
        WHERE s.n < {_ED_KK}
      )
    )
    SELECT c.ia AS id_a, c.ib AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
    FROM cand c JOIN d a ON a.doc_id = c.ia JOIN d b ON b.doc_id = c.ib
    WHERE levenshtein(a.text, b.text) <= {_ED_K}
    """,
    category="dedup",
)
def dedup_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-pairs by PassJoin segment blocking
    (operators.dedup.edit_distance_pairs; Li, Deng, Feng VLDB 2012):
    every pair of documents within Levenshtein distance {_ED_K},
    candidates from the (source-length, segment, substring) equi-join —
    never all-pairs — and only candidates pay the (thresholded) DP. The
    oracle replays the same segment partition, the shifted probe
    windows, the short-string band join, and the verify filter; the
    blocking's completeness (no pair missed) is separately pinned
    against a brute-force Python reference by a randomized test in
    tests/test_components.py.

    Scale shape: probe fan-out is a bounded (2k+1)(k+1)(2k+1) slim rows
    per document — digests-only shuffles, payloads join back only for
    the deduplicated candidates; the verification is cut off at k by
    levenshtein's threshold form."""
    from kafka_workers_spark.operators.dedup import edit_distance_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return edit_distance_pairs(d, k=_ED_K)


# ---------------------------------------------------------------------------
# Connected-component dedup group resolution (iterative, oracle-replayed)
# ---------------------------------------------------------------------------


# the pair-generation + closure CTE chain, shared by
# dedup_group_components and dedup_survivor_quality so the two oracles
# can never drift (the sql_minhash_signature pattern at CTE scale)
_CC_CLOSURE_CTES = f"""sigs AS (
      SELECT doc_id, {sql_minhash_signature(_SHINGLES_SQL, MINHASH_K)} AS sig
      FROM documents
    ), bands AS (
      SELECT doc_id, b,
             md5(CAST(b AS VARCHAR) || ':' || sig[2*b + 1] || ':' || sig[2*b + 2]) AS band_key
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ), mh_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), ng_docs AS (
      SELECT doc_id,
             list_distinct([substr(md5(sh), 1, 16) FOR sh IN {_SHINGLES_SQL}]) AS hashes
      FROM documents
    ), ng_keyed AS (
      SELECT doc_id, list_aggregate(hashes, 'min') AS block_key
      FROM ng_docs WHERE len(hashes) > 0
    ), ng_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ng_keyed a JOIN ng_keyed b
        ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    ), e0 AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION
      SELECT doc_a, doc_b FROM ng_pairs
    ), edges AS (
      SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0
    ), reach AS (
      SELECT u AS node, u AS comp FROM edges
      UNION
      SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node
    )"""


@register(
    "dedup_group_components",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}
    SELECT node AS doc_id, MIN(comp) AS group_id,
           (MIN(comp) = node) AS is_canonical
    FROM reach GROUP BY node
    """,
    category="dedup",
)
def dedup_group_components(
    spark: SparkSession, sf_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Transitive dedup group resolution: the union of the MinHash-LSH and
    the min-shingle-blocked Jaccard candidate pairs is an EDGE LIST whose
    connected components are the dedup groups (operators/components.py —
    iterative min-label propagation, one (node,comp)-pair shuffle per
    round, localCheckpoint lineage truncation). A doc bridging two blocking
    families merges them: the exact resolution `pipeline.near_dedup_lsh`'s
    greedy one-join rule approximates. Output: every document that appears
    in at least one candidate pair, its component minimum as ``group_id``
    and whether it is that canonical survivor.

    The oracle replays BOTH pair generators (the exact SQL of
    ``dedup_minhash_lsh`` / ``dedup_ngram_jaccard``, trimmed to ids) and
    the closure itself as a recursive CTE — min-label propagation as
    UNION-deduplicated label reachability — so the iterative Spark loop is
    held to a full cross-engine ground truth, not a rows-only check.

    Pair generation shares ONE corpus scan: candidate edges need neither
    family's verify value (est_jaccard / exact jaccard), and both blocking
    keys are duplicate-insensitive MIN aggregates over the same shingle
    explode — the 8 MinHash element mins plus the min-shingle block key
    compute as 9 mins in a single codegen'd hash aggregate (the standalone
    queries each pay their own scan because they DO emit verify values).
    At 100 TB that halves the dominant cost, the corpus pass; the pair
    sets are provably identical to the standalone queries' (MIN over
    ``array_distinct`` equals MIN over the raw shingles), which is exactly
    what the oracle — still written as the two standalone generators —
    checks.

    Scale shape: edges are blocking-key equi-join outputs (never
    all-pairs); the per-round CC shuffle carries two longs per edge;
    rounds = component diameter (near-dup clusters: 2-4). Reference
    tie-in: the reference keeps payloads opaque (api/task/WorkerTask.java:50)
    — group resolution is engine-side training-data surface.

    Round 13 (VERDICT r12 #4): serves from the STORED components
    artifact (:func:`_cc_store` — fingerprint-keyed, built on first
    touch per corpus snapshot, the bm25/ann index-persistence shape), so
    consumers after the first pay a parquet mapping read, not the chain.
    The cold build stays measured every round by
    ``dedup_components_rebuild``."""
    comp = _cc_store(spark, sf_dir, snapshot_id=snapshot_id)
    return comp.select(
        "doc_id",
        "group_id",
        (F.col("group_id") == F.col("doc_id")).alias("is_canonical"),
    )


def _cc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair generation + closure for the component-based dedup
    queries: (doc_id, group_id) for every doc in at least one candidate
    pair — the Spark twin of _CC_CLOSURE_CTES."""
    from kafka_workers_spark.operators.components import connected_components

    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(tokenize_stage(d.select("doc_id", "text")), 3)
    exploded = staged.select("doc_id", F.explode_outer("shingles").alias("__sh"))
    sig_mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("__sh")))).alias(f"__mh{i}")
        for i in range(MINHASH_K)
    ]
    per_doc = exploded.groupBy("doc_id").agg(
        *sig_mins,
        F.min(F.substring(F.md5("__sh"), 1, 16)).alias("block_key"),
    )
    per_doc = barrier(
        per_doc.select(
            "doc_id",
            F.array(*[F.col(f"__mh{i}") for i in range(MINHASH_K)]).alias("sig"),
            "block_key",
        )
    )
    bands = per_doc.select(
        "doc_id", F.explode(lsh_bands(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    mh = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    keyed = per_doc.filter(F.col("block_key").isNotNull())
    ka, kb = keyed.alias("ka"), keyed.alias("kb")
    ng = ka.join(
        kb,
        (F.col("ka.block_key") == F.col("kb.block_key"))
        & (F.col("ka.doc_id") < F.col("kb.doc_id")),
    ).select(F.col("ka.doc_id").alias("doc_a"), F.col("kb.doc_id").alias("doc_b"))
    comp = connected_components(mh.union(ng), src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )


# ---------------------------------------------------------------------------
# Stored components artifact (compute once, consume many — VERDICT r12 #4)
# ---------------------------------------------------------------------------

def _cc_store_root() -> str:
    """Store root: tmpfs when available (the pytest basetemp rationale —
    the mapping is MBs at test SFs), overridable for a real deployment
    where the artifact lives next to the corpus."""
    import os
    import tempfile

    base = os.environ.get("KW_COMPONENTS_STORE")
    if base:
        return base
    shm = "/dev/shm"
    return (shm if os.path.isdir(shm) else tempfile.gettempdir()) + "/kw_components_store"


def _corpus_fingerprint(
    spark: SparkSession, sf_dir: str, snapshot_id: str | None = None
) -> str:
    """Input-snapshot identity the store is keyed by AND validated
    against. Two modes (VERDICT r13 #7):

    - ``snapshot_id`` given (the PRODUCTION path): the caller already
      knows the corpus version — an Iceberg/Delta snapshot id, a
      partition watermark, an ingest manifest digest — so the key is a
      pure hash of (snapshot id, blocking parameters) and costs ZERO
      I/O. This is the mode a 100 TB deployment runs; content scanning
      a catalog-managed corpus would be absurd there.
    - ``snapshot_id`` None (the TEST-SF default): no catalog exists over
      the loose parquet dirs, so the content stands in for the version —
      (row count, Σ crc32(text), Σ doc_id), order-independent exact
      aggregates, so any added/removed/edited document changes the key
      and the consumer rebuilds instead of serving stale groups. One
      column scan per consumer call: milliseconds at test SFs.
    """
    import hashlib
    import os

    if snapshot_id is not None:
        # ADVICE r14 #3: the store root is shared across datasets, so the
        # snapshot tag must carry a CORPUS identity too — two corpora both
        # passing 'v1' must never serve each other's group mapping. The
        # table path is the zero-I/O identity the caller already has
        # (expect_fingerprint can't catch the collision: fingerprints match).
        corpus = os.path.abspath(os.path.join(sf_dir, "documents"))
        tag = f"snap|{corpus}|{snapshot_id}|mh{MINHASH_K}|b{LSH_BANDS}x{LSH_ROWS}|sh3"
        return hashlib.md5(tag.encode()).hexdigest()[:16]
    d = load_table(spark, sf_dir, "documents")
    r = d.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.crc32(F.col("text"))), F.lit(0)).alias("c"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("s"),
    ).collect()[0]
    tag = f"{sf_dir}|{r.n}|{r.c}|{r.s}|mh{MINHASH_K}|b{LSH_BANDS}x{LSH_ROWS}|sh3"
    return hashlib.md5(tag.encode()).hexdigest()[:16]


def _cc_store(
    spark: SparkSession,
    sf_dir: str,
    force_rebuild: bool = False,
    snapshot_id: str | None = None,
) -> DataFrame:
    """The components artifact, stored: (doc_id, group_id) for every doc
    in at least one candidate pair, computed ONCE per corpus snapshot by
    :func:`_cc_groups` and persisted via operators.components_write —
    every later consumer (dedup_group_components, dedup_survivor_quality,
    and anything a user builds on the groups) reads the parquet mapping
    instead of re-running the MinHash+Jaccard+closure chain (VERDICT r12
    #4: the two heaviest rows in both bench lanes were the SAME ~10 s
    computation run twice). Correctness cannot go stale: the store path
    is keyed by the input fingerprint, components_read re-validates it,
    and the driver's DuckDB oracle replays the full recursive closure
    against whatever the consumer returns.

    Concurrency: the check-then-build runs under one ``store.lock`` file
    lock, which serializes builds across threads (the EXTRA oracle
    sweep runs queries on 6 threads) and across processes (ADVICE r13
    #2 — without it a cross-process rebuild could prune a generation
    backing another process's lazy scan). Publishing is an ATOMIC
    symlink repoint over immutable generation dirs — ``root/fp`` is a
    symlink to ``root/fp.v-*``; a rebuild writes a fresh generation and
    repoints in one rename, so a concurrent lazy scan of the previous
    generation never sees a half-swapped dir or vanishing files (the
    reason this store does not use store.py's rename swap). Pruning
    keeps the just-published generation, the generation the symlink
    pointed to BEFORE the repoint (it may back an in-flight scan), and
    the newest survivor by mtime — never the resolved link target, even
    when a crashed rebuild left an orphaned newer generation that was
    never published (ADVICE r13 #2: mtime order alone would then delete
    the generation the link still serves). mtimes of
    concurrently-removed dirs read as 0 instead of raising.

    ``snapshot_id`` selects the production zero-I/O fingerprint mode
    (see :func:`_corpus_fingerprint`); ``force_rebuild`` bypasses the
    reuse (and re-publishes) so the cold build cost stays measured every
    round: bench row dedup_components_rebuild."""
    import os
    import shutil
    import threading

    fp = _corpus_fingerprint(spark, sf_dir, snapshot_id=snapshot_id)
    root = _cc_store_root()
    link = f"{root}/{fp}"
    from kafka_workers_spark.operators.components import (
        components_read,
        components_write,
    )

    def _mtime(path: str) -> float:
        try:
            return os.path.getmtime(path)
        except OSError:
            return 0.0  # removed by a concurrent pruner: sorts oldest

    with store.lock(f"{root}/.{fp}.buildlock"):
        if force_rebuild or not os.path.isdir(f"{link}/meta"):
            try:
                # the generation the CURRENT link serves — immune to
                # pruning regardless of mtime order (an unpublished
                # orphan from a crashed rebuild may be newer)
                served = os.readlink(link) if os.path.islink(link) else None
            except OSError:
                served = None
            comp = _cc_groups(spark, sf_dir).select(
                F.col("doc_id").alias("node"), F.col("group_id").alias("comp")
            )
            gens = sorted(
                (d for d in os.listdir(root) if d.startswith(f"{fp}.v-")),
                key=lambda d: _mtime(f"{root}/{d}"),
            )
            # ADVICE r14 #1: the sequence number must come from
            # max(existing suffixes)+1, NOT len(gens) — pruning holds
            # the population at ~2, so len() repeats and the repeated
            # name can be the SERVED generation, which a
            # mode='overwrite' write would then rewrite in place under
            # a concurrent lazy reader (breaking the immutable-
            # generation invariant). max()+1 never reuses a name even
            # after pruning; the build lock serializes writers so two
            # processes cannot draw the same number.
            seq = 1 + max(
                (int(d.rsplit("-", 1)[1]) for d in gens if d.rsplit("-", 1)[1].isdigit()),
                default=-1,
            )
            gen = f"{fp}.v-{os.getpid()}-{threading.get_ident()}-{seq}"
            if os.path.exists(f"{root}/{gen}"):  # never overwrite a live dir
                raise RuntimeError(
                    f"components store: generation name {gen!r} already "
                    "exists — refusing to rewrite an immutable generation"
                )
            components_write(
                comp, f"{root}/{gen}", mode="overwrite", fingerprint=fp
            )
            # atomic publish: symlink rename replaces the pointer in
            # one syscall; readers resolve either the old or the new
            # generation, never a partial state
            tmplink = f"{root}/.{gen}.link"
            if os.path.islink(tmplink) or os.path.exists(tmplink):
                os.unlink(tmplink)
            os.symlink(gen, tmplink)
            os.rename(tmplink, link)
            keep = {gen, served, gens[-1] if gens else None}
            for stale in gens:
                if stale not in keep:
                    shutil.rmtree(f"{root}/{stale}", ignore_errors=True)
    return components_read(spark, link, expect_fingerprint=fp).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (merge/purge) + Jaccard verify
# ---------------------------------------------------------------------------

_SN_WINDOW = 4


@register(
    "dedup_sorted_neighborhood",
    f"""
    WITH docs AS (
      SELECT doc_id, lang, {sql_normalized('text')} AS norm,
             list_distinct([substr(md5(sh), 1, 16) FOR sh IN {_SHINGLES_SQL}]) AS hashes
      FROM documents
    ), keyed AS (
      SELECT doc_id, hashes, norm,
             lang || '|' || substr(norm, 1, 1) AS blk
      FROM docs WHERE len(hashes) > 0
    ), ranked AS (
      SELECT doc_id, blk, hashes,
             ROW_NUMBER() OVER (PARTITION BY blk ORDER BY norm, doc_id) AS rnk
      FROM keyed
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rnk - a.rnk AS BIGINT) AS rank_distance,
           CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
             / len(list_distinct(a.hashes || b.hashes)) AS jaccard
    FROM ranked a JOIN ranked b
      ON a.blk = b.blk AND b.rnk - a.rnk BETWEEN 1 AND {_SN_WINDOW}
    """,
    category="dedup",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95,
    operators.dedup.sorted_neighborhood_pairs) + the family's standard
    exact verify: rank documents by normalized text within
    (lang, first-char) blocks, pair every record with its next
    _SN_WINDOW neighbors in rank order, and attach exact 3-gram digest
    Jaccard — the lexicographic complement to hash-collision blocking
    (a typo'd prefix still sorts adjacent when no shingle collides).
    The block key bounds each sorted run (the window rank is PARTITIONED
    — never a one-task global sort); boundary pairs are the documented
    multi-pass trade, like LSH band boundaries."""
    from kafka_workers_spark.operators.dedup import sorted_neighborhood_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # __norm is computed AT the tokenize stage, not in the explode's
    # select: an expression alongside a generator lands in the project
    # ABOVE it and re-runs per exploded shingle row (O(shingles × len)
    # regex work — measured 20 s vs 3 s at sf0.1 for this frame)
    staged = shingle_stage(
        tokenize_stage(d, extra={"__norm": normalized(F.col("text"))}),
        3,
        distinct=True,
    )
    per_doc = (
        staged.select(
            "doc_id",
            "lang",
            "__norm",
            F.explode_outer("shingles").alias("__sh"),
        )
        .select(
            "doc_id", "lang", "__norm", F.substring(F.md5("__sh"), 1, 16).alias("__h")
        )
        .groupBy("doc_id", "lang", "__norm")
        .agg(F.collect_set("__h").alias("hashes"))
        .filter(F.size("hashes") > 0)
    )
    pairs = sorted_neighborhood_pairs(
        per_doc,
        sort_key=F.col("__norm"),
        # strict concat, NOT concat_ws: `||` in the oracle is NULL-strict,
        # concat_ws silently skips NULLs (the lsh_bands round-7 bug class)
        block=F.concat(F.col("lang"), F.lit("|"), F.substring("__norm", 1, 1)),
        id_col="doc_id",
        window=_SN_WINDOW,
        payload_cols=["hashes"],
    )
    jac = F.size(F.array_intersect("hashes_a", "hashes_b")).cast("double") / F.size(
        F.array_union("hashes_a", "hashes_b")
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "rank_distance",
        jac.alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric: quotes / subsets / wrapped copies)
# ---------------------------------------------------------------------------


@register(
    "dedup_containment",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct([substr(md5(sh), 1, 16) FOR sh IN {_SHINGLES_SQL}]) AS hashes
      FROM documents
    ), keyed AS (
      SELECT doc_id, hashes, list_aggregate(hashes, 'min') AS block_key
      FROM docs WHERE len(hashes) > 0
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hashes AS h_a, b.hashes AS h_b
      FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(h_a, h_b)) AS BIGINT) AS n_shared,
           CAST(len(list_intersect(h_a, h_b)) AS DOUBLE) / len(h_a) AS containment_a,
           CAST(len(list_intersect(h_a, h_b)) AS DOUBLE) / len(h_b) AS containment_b
    FROM pairs
    """,
    category="dedup",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT for blocked pairs (Broder, "On the
    resemblance and containment of documents", SEQUENCES 1997 — the
    asymmetric companion to resemblance/Jaccard): C(A,B) = |A∩B|/|A|.
    A short document quoted inside a long one has high containment but
    low Jaccard — the wrapped-copy / boilerplate-inclusion case a
    symmetric threshold misses; dedup policy drops the CONTAINED side
    (the quote), not the container. Same 1-hash min-shingle blocking
    and digest-set arithmetic as dedup_ngram_jaccard — the two scores
    come from one intersection, so running both costs one plan."""
    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(tokenize_stage(d.select("doc_id", "text")), 3, distinct=True)
    docs = (
        staged.select("doc_id", F.explode_outer("shingles").alias("__sh"))
        .select("doc_id", F.substring(F.md5("__sh"), 1, 16).alias("__h"))
        .groupBy("doc_id")
        .agg(F.collect_set("__h").alias("hashes"), F.min("__h").alias("block_key"))
        .filter(F.col("block_key").isNotNull())
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.hashes").alias("h_a"),
        F.col("b.hashes").alias("h_b"),
    )
    shared = F.size(F.array_intersect("h_a", "h_b"))
    return pairs.select(
        "doc_a",
        "doc_b",
        shared.cast("bigint").alias("n_shared"),
        (shared.cast("double") / F.size("h_a")).alias("containment_a"),
        (shared.cast("double") / F.size("h_b")).alias("containment_b"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join (prefix filtering / AllPairs)
# ---------------------------------------------------------------------------

# Exact Jaccard >= 9/10: the synthetic corpus shares a ~31-token
# vocabulary, so lower thresholds qualify most of the O(n^2) pairs
# (1/2 -> 92k of 125k at sf0.01) — a corpus artifact, not an operator
# property. 9/10 keeps the result set meaningful AND the prefixes short
# (prefix length = n - ceil(t*n) + 1 ~ n/10), which is the algorithm's
# sweet spot: tighter thresholds mean CHEAPER candidate generation.
_SSJ_NUM, _SSJ_DEN = 9, 10


@register(
    "dedup_set_similarity",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS tok
      FROM (
        SELECT doc_id, UNNEST(list_distinct(string_split({_NORM_SQL}, ' '))) AS tok
        FROM documents
        WHERE len({_NORM_SQL}) > 0
      )
    ),
    dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfct FROM toks GROUP BY tok),
    ordered AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY dfc.dfct, t.tok) AS pos,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      FROM toks t JOIN dfc ON dfc.tok = t.tok
    ),
    prefix AS (
      SELECT doc_id, tok, n FROM ordered
      WHERE pos <= n - ({_SSJ_NUM} * n + {_SSJ_DEN} - 1) // {_SSJ_DEN} + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND {_SSJ_DEN} * LEAST(a.n, b.n) >= {_SSJ_NUM} * GREATEST(a.n, b.n)
    ),
    sets AS (
      SELECT doc_id,
             [CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
              FOR t IN list_distinct(string_split({_NORM_SQL}, ' '))] AS s
      FROM documents WHERE len({_NORM_SQL}) > 0
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_common,
           CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_union,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    WHERE {_SSJ_DEN} * len(list_intersect(sa.s, sb.s))
          >= {_SSJ_NUM} * (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
    """,
    category="dedup",
)
def dedup_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 9/10 self-join by prefix filtering
    (operators.dedup.set_similarity_pairs; Bayardo et al. WWW 2007) —
    ALL qualifying pairs with exact set arithmetic, the zero-error
    counterpart to the MinHash-LSH row. Rarest-first canonical prefixes
    keep corpus-hot tokens out of candidate generation entirely;
    completeness vs brute force is pinned in unit tests, and the oracle
    replays ordering, prefixes, the length prune, and the exact
    verify."""
    from kafka_workers_spark.operators.dedup import set_similarity_pairs

    d = load_table(spark, sf_dir, "documents")
    toked = barrier(
        d.select(
            "doc_id", F.array_distinct(F.split(normalized(F.col("text")), " ")).alias("toks")
        ).filter(F.length(normalized(F.col("text"))) > 0)
    )
    return set_similarity_pairs(toked, "toks", threshold=(_SSJ_NUM, _SSJ_DEN))


@register(
    "linkage_patterns",
    """
    WITH c AS (
      SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             CAST(substr(c_name, length(c_name) - 1, 2) AS BIGINT) AS last2,
             CAST(floor(c_acctbal * 100) AS BIGINT) % 100 AS cents
      FROM customer
    ), p AS (
      -- IS NOT DISTINCT FROM mirrors the engine's eqNullSafe on both
      -- the agreement bits and the block keys: NULL==NULL agrees,
      -- NULL-vs-value disagrees, NULL blocks still join (latent-NULL
      -- divergence caught by round-9 self-review)
      SELECT CAST(a.band IS NOT DISTINCT FROM b.band AS INT)
           + 2 * CAST(a.last2 IS NOT DISTINCT FROM b.last2 AS INT)
           + 4 * CAST(a.cents IS NOT DISTINCT FROM b.cents AS INT) AS gamma_code
      FROM c a JOIN c b ON a.nk IS NOT DISTINCT FROM b.nk
                       AND a.seg IS NOT DISTINCT FROM b.seg AND a.id < b.id
    )
    SELECT CAST(gamma_code AS BIGINT) AS gamma_code,
           COUNT(*) AS n_pairs
    FROM p GROUP BY 1
    """,
    category="dedup",
    windowed=False,
)
def linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter agreement-pattern table (operators.linkage —
    Fellegi & Sunter 1969, Splink's pipeline shape): customers blocked
    on (nation, segment), per-pair agreement bits over three derived
    compare fields (account-balance band, name digits, balance cents),
    packed gamma codes aggregated to the ≤ 2^3-row pattern table the EM
    step fits m/u on. The EXACT surface — blocking join + gamma coding
    + counts — is what the oracle replays; EM recovery and match-weight
    ranking are pinned on a planted-duplicate corpus in
    tests/test_linkage.py (log weights stay out of the oracle:
    cross-libm last-ulp differences)."""
    from kafka_workers_spark.operators.linkage import (
        linkage_pairs,
        linkage_pattern_counts,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
        F.substring("c_name", -2, 2).cast("bigint").alias("last2"),
        (F.floor(F.col("c_acctbal") * 100).cast("bigint") % 100).alias("cents"),
    )
    pairs = linkage_pairs(c, "id", ["nk", "seg"], ["band", "last2", "cents"])
    return linkage_pattern_counts(pairs)


from kafka_workers_spark.operators.multimodal import sql_cdc_chunks  # noqa: E402


@register(
    "dedup_cdc_chunks",
    f"""
    WITH chunks AS (
      SELECT * FROM {sql_cdc_chunks('encode(text)', 6)}
    )
    SELECT chunk_digest,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(chunk_len) AS chunk_len
    FROM chunks
    GROUP BY 1
    """,
    category="dedup",
    windowed=False,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup surface (operators.multimodal.
    cdc_chunks — Gear/FastCDC boundaries, Xia et al. ATC'16): every
    payload chunk digest with its document reach and occurrence count —
    the byte-level storage-dedup complement to the token-level
    ExactSubstr stack (a shared chunk is a shared byte run that
    survives upstream edits, because boundaries re-synchronize after
    any insertion). The oracle replays the ENTIRE chain — gear window
    sums, boundary mask, hex-slice digests — from the same inlined
    constant table."""
    from kafka_workers_spark.operators.multimodal import cdc_chunks

    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.to_binary(F.col("text"), F.lit("utf-8")).alias("payload"))
    ch = cdc_chunks(media, boundary_bits=6)
    return ch.groupBy("chunk_digest").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
        F.min("chunk_len").alias("chunk_len"),
    )


@register(
    "dedup_survivor_quality",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}, groups AS (
      SELECT node AS doc_id, MIN(comp) AS group_id FROM reach GROUP BY node
    ), scored AS (
      SELECT g.doc_id, g.group_id, d.n_chars
      FROM groups g JOIN documents d ON g.doc_id = d.doc_id
    ), best AS (
      SELECT doc_id AS survivor_id, group_id FROM (
        SELECT doc_id, group_id,
               ROW_NUMBER() OVER (PARTITION BY group_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT s.doc_id, s.group_id, s.n_chars, b.survivor_id,
           (s.doc_id = b.survivor_id) AS is_survivor
    FROM scored s JOIN best b ON s.group_id = b.group_id
    """,
    category="dedup",
    windowed=False,
)
def dedup_survivor_quality(
    spark: SparkSession, sf_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Quality-ranked survivor selection over the transitive dedup groups
    (operators.components.select_survivors over the same closure as
    dedup_group_components): per group the LONGEST member survives (ties:
    smallest doc_id) — the curated-corpus rule, vs the arbitrary min-id
    canonical. The oracle extends the shared closure CTE chain
    (_CC_CLOSURE_CTES — literally the same SQL object, so the two
    component queries can never drift) with a score-ranked window pick;
    the Spark side ranks with one partially-aggregatable max(struct)
    instead of a window — another cross-plan pairing.

    Round 13 (VERDICT r12 #4): reads the STORED components artifact
    (:func:`_cc_store`) instead of re-running the entire
    MinHash+Jaccard+closure chain dedup_group_components just ran — the
    production shape (groups resolve once per snapshot, survivors and
    every other consumer read the mapping), under the UNCHANGED full
    recursive-CTE oracle."""
    stats = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from kafka_workers_spark.operators.components import select_survivors

    return select_survivors(
        _cc_store(spark, sf_dir, snapshot_id=snapshot_id),
        stats, "n_chars", "group_id", "doc_id"
    )


@register(
    "dedup_components_rebuild",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}
    SELECT node AS doc_id, MIN(comp) AS group_id,
           (MIN(comp) = node) AS is_canonical
    FROM reach GROUP BY node
    """,
    category="dedup",
    # rotated IN round 14 (VERDICT r13 #1): the cold closure build is the
    # heaviest row in either lane — the driver window keeps it measured
)
def dedup_components_rebuild(
    spark: SparkSession, sf_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """The components store's COLD BUILD, kept as its own measured row:
    force-rebuilds the artifact (bypassing :func:`_cc_store`'s reuse) and
    returns the same mapping as dedup_group_components under the same
    recursive-CTE oracle. With the consumer queries now serving from the
    store, this row is what keeps the full MinHash+Jaccard+closure cost
    visible in every round's bench — the store can never silently hide a
    cold-path regression behind a warm artifact (the clearCache
    discipline, extended to on-disk state: bench.py clears Spark's
    cache; this row is the store's equivalent of a cleared cache)."""
    comp = _cc_store(spark, sf_dir, force_rebuild=True, snapshot_id=snapshot_id)
    return comp.select(
        "doc_id",
        "group_id",
        (F.col("group_id") == F.col("doc_id")).alias("is_canonical"),
    )


@register(
    "dedup_group_stats",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}, groups AS (
      SELECT node AS doc_id, MIN(comp) AS group_id FROM reach GROUP BY node
    ), scored AS (
      SELECT g.group_id, g.doc_id, d.n_chars
      FROM groups g JOIN documents d ON g.doc_id = d.doc_id
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM scored GROUP BY group_id
    """,
    category="dedup",
    windowed=False,  # new round 13 — the store's third consumer
)
def dedup_group_stats(
    spark: SparkSession, sf_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Per-group dedup profile off the STORED components artifact — the
    third consumer of :func:`_cc_store` (after group resolution and
    survivor selection), and the report a curation run actually reads:
    group size, duplicated character mass (what dedup will delete), the
    largest member, and the min-id canonical. One store read + one
    broadcast-side join to per-doc stats + one partial-aggregatable
    hash aggregate — the compute-once/consume-many story in one row per
    group. Same oracle chain (_CC_CLOSURE_CTES) as the other two
    component queries, so all three can never drift."""
    stats = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = _cc_store(spark, sf_dir, snapshot_id=snapshot_id)
    return (
        comp.join(stats, "doc_id")
        .groupBy("group_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# Near-duplicate eval decontamination (round 14)
# ---------------------------------------------------------------------------

_DN_MIN_EST = 0.5  # >= 4 of 8 signature positions agree


def _sql_decontaminate_near() -> str:
    """Cross-set variant of the _sql_lsh_pairs renderer: train × eval
    band collisions, agreement-verified, best eval match per struck
    train doc (max est_jaccard, min eval_id on ties — the same struct-
    max order the Spark side uses)."""
    sig = sql_minhash_signature(_SHINGLES_SQL, MINHASH_K)
    band_key = (
        "md5(CAST(b AS VARCHAR) || ':' || sig[2*b + 1] || ':' || sig[2*b + 2])"
    )
    return f"""
    WITH sigs AS (
      SELECT doc_id, {sig} AS sig FROM documents
    ), bands AS (
      SELECT doc_id, sig, b, {band_key} AS band_key
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ), cand AS (
      SELECT DISTINCT t.doc_id AS t_id, e.doc_id AS e_id,
                      t.sig AS sig_t, e.sig AS sig_e
      FROM (SELECT * FROM bands WHERE doc_id % 10 <> 0) t
      JOIN (SELECT * FROM bands WHERE doc_id % 10 = 0) e
        ON t.b = e.b AND t.band_key = e.band_key
    ), scored AS (
      SELECT t_id, e_id,
             CAST(list_sum([CASE WHEN sig_t[i] = sig_e[i] THEN 1 ELSE 0 END
                            FOR i IN generate_series(1, {MINHASH_K})]) AS DOUBLE)
               / {MINHASH_K} AS est_jaccard
      FROM cand
    ), ranked AS (
      SELECT t_id, e_id, est_jaccard,
             ROW_NUMBER() OVER (PARTITION BY t_id
                                ORDER BY est_jaccard DESC, e_id ASC) AS rn
      FROM scored WHERE est_jaccard >= {_DN_MIN_EST}
    )
    SELECT t_id AS doc_id, e_id AS eval_id, est_jaccard
    FROM ranked WHERE rn = 1
    """


@register(
    "corpus_decontaminate_near",
    _sql_decontaminate_near(),
    category="corpus",
    # rotated IN round 15 (VERDICT r14 #1): the fuzzy decontamination
    # flagship enters the driver window
)
def corpus_decontaminate_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate eval decontamination report
    (pipeline.decontaminate_near): training documents whose MinHash
    signature collides with a held-out document's in any LSH band and
    agrees at >= 0.5 — the fuzzy complement to corpus_contamination's
    exact 8-gram pass. A paraphrased benchmark leak keeps most of its
    3-gram shingles (the signature still collides) while a single edit
    inside every 8-gram blinds the exact pass; production pipelines run
    both (the GPT-3 appendix-C / Dolma decontamination shape). Emits the
    audit trail: each struck train doc with its best-matching eval doc
    (max agreement, lower id on ties) and the estimated Jaccard. Eval
    side = doc_id % 10 == 0 (a wider slice than corpus_contamination's
    % 50 so the fixture exercises real cross-set collisions). The
    eval bands broadcast; the corpus pays one signature scan and a
    broadcast band equi-join — no self-join, no text shuffle."""
    from kafka_workers_spark.pipeline import decontaminate_near

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _, flagged = decontaminate_near(
        d.filter("doc_id % 10 != 0"),
        d.filter("doc_id % 10 = 0"),
        k=MINHASH_K,
        n_bands=LSH_BANDS,
        rows_per_band=LSH_ROWS,
        shingle_n=3,
        min_est_jaccard=_DN_MIN_EST,
    )
    return flagged


@register(
    "split_corpus_grouped",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}, grp AS (
      SELECT node AS doc_id, MIN(comp) AS group_id FROM reach GROUP BY node
    ), keyed AS (
      SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS grp_id
      FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id
    )
    SELECT doc_id,
           CASE WHEN coin < 90 THEN 'train'
                WHEN coin < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST('0x' || substr(md5('split|' || CAST(grp_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 100 AS coin
      FROM keyed
    )
    """,
    category="pipeline",
    windowed=False,  # new round 14 — EXTRA until rotated in
)
def split_corpus_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split SERVED FROM the components
    store (pipeline.split_corpus(groups=...) — the store's fourth
    consumer, closing the 'split leakage guards' promise three
    docstrings have carried since round 13): the split coin is taken
    over each document's near-dup GROUP id, so every member of a
    near-duplicate cluster lands in the SAME split and the validation
    set cannot contain near-twins of training documents. The group
    mapping is the stored artifact — resolved once per corpus snapshot,
    read as a lazy parquet scan here (no closure rounds, no pair
    regeneration; contrast the dup_pairs= form, which is eager). The
    oracle replays the FULL chain: both pair generators, the recursive
    closure, the left join, and the md5 coin."""
    from kafka_workers_spark.pipeline import split_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    groups = _cc_store(spark, sf_dir)
    return split_corpus(
        docs, weights={"train": 90, "val": 5, "test": 5}, groups=groups
    )


_GC_CAP = 2


@register(
    "dedup_group_cap",
    f"""
    WITH RECURSIVE {_CC_CLOSURE_CTES}, grp AS (
      SELECT node AS doc_id, MIN(comp) AS group_id FROM reach GROUP BY node
    ), keyed AS (
      SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id
    )
    SELECT doc_id, group_id FROM (
      SELECT doc_id, group_id,
             ROW_NUMBER() OVER (
               PARTITION BY group_id
               ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM keyed
    ) WHERE rn <= {_GC_CAP}
    """,
    category="dedup",
    windowed=False,  # new round 14 — EXTRA until rotated in
)
def dedup_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-capped sampling SERVED FROM the components store — the
    fifth store consumer, closing the last 'group-capped sampling'
    promise in the store docstrings: keep at most {cap} documents per
    near-dup GROUP (a softer policy than survivor-only dedup — retain
    bounded redundancy for robustness, drop the long tail of a
    5000-copy boilerplate cluster). Selection rides cap_per_key's
    deterministic md5 coin over the store-served group id (singletons =
    their own group via the left-join coalesce, same as the grouped
    split), so re-runs keep the identical subset and the skew-aware
    two-path plan applies — under-cap groups pass with NO data shuffle;
    only over-cap groups' rows enter the partial-WindowGroupLimit
    ranking. Oracle replays pair generation, recursive closure, the
    coalesce, and the capped window."""
    from kafka_workers_spark.pipeline import cap_per_key

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    groups = _cc_store(spark, sf_dir)
    keyed = docs.join(groups, "doc_id", "left").select(
        "doc_id", F.coalesce("group_id", "doc_id").alias("group_id")
    )
    return cap_per_key(keyed, ["group_id"], _GC_CAP, id_col="doc_id", seed="cap")


_CR_HOPS = 2
_CR_EVAL_MOD = 50  # the corpus_contamination eval convention; at sf0.001
# the radius genuinely LAYERS under this split (a hop-1 doc that is not
# itself a hit) — wider slices make every near-dup of a hit a hit too,
# flattening the walk to hops 0
_SH8_RADIUS_SQL = sql_word_shingles(_TOKS_SQL, 8)


def _sql_contamination_radius() -> str:
    """Recursive-CTE oracle for the paraphrase-chain blast radius: the
    corpus_contamination hit rule (8-gram digest overlap, eval = doc_id
    % 50 == 0) seeds a bounded walk over the dedup family's LSH
    band-collision pairs (the _sql_lsh_pairs machinery restricted to
    train docs), MIN(hops) per reached node — the graph_bfs_reach
    oracle shape composed from two already-green renderers."""
    sig = sql_minhash_signature(_SHINGLES_SQL, MINHASH_K)
    band_key = (
        "md5(CAST(b AS VARCHAR) || ':' || sig[2*b + 1] || ':' || sig[2*b + 2])"
    )
    return f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct([substr(md5(s), 1, 16) FOR s IN {_SH8_RADIUS_SQL}])) AS h
      FROM documents
    ),
    hits AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT * FROM sh WHERE doc_id % {_CR_EVAL_MOD} <> 0) t
      JOIN (SELECT DISTINCT h FROM sh WHERE doc_id % {_CR_EVAL_MOD} = 0) e ON t.h = e.h
    ),
    sigs AS (
      SELECT doc_id, {sig} AS sig FROM documents WHERE doc_id % {_CR_EVAL_MOD} <> 0
    ),
    bands AS (
      SELECT doc_id, b, {band_key} AS band_key
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ),
    pairs0 AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    adj AS (
      SELECT src, dst FROM pairs0 UNION SELECT dst, src FROM pairs0
    ),
    walk(node, hops) AS (
      SELECT doc_id AS node, CAST(0 AS BIGINT) AS hops FROM hits
      UNION
      SELECT a.dst AS node, w.hops + 1 AS hops
      FROM walk w JOIN adj a ON a.src = w.node
      WHERE w.hops < {_CR_HOPS}
    )
    SELECT node AS doc_id, CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """


@register(
    "corpus_contamination_radius",
    _sql_contamination_radius(),
    category="corpus",
    windowed=False,  # new round 15 — EXTRA until rotated in
)
def corpus_contamination_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paraphrase-chain blast radius as a registered row
    (pipeline.contamination_radius): documents within {_CR_HOPS}
    near-dup LSH links of a DIRECT eval-overlap hit — hops 0 = shares
    an 8-gram with the held-out set (the corpus_contamination hit rule
    and eval convention, doc_id % 50 == 0), hops h = reachable through h
    band-collision edges among the train docs. The chain a per-document
    screen provably keeps (verbatim leak → paraphrase → paraphrase of
    the paraphrase) is pinned on a planted fixture in
    tests/test_pipeline.py; here the whole composition — exact-hit
    seeds, MinHash banding, multi-source BFS layers — replays under one
    DuckDB recursive-CTE oracle. Shape: the decontaminate broadcast
    join + the dedup_minhash_lsh pair plan + frontier-sized BFS
    shuffles; no corpus text ever enters the walk."""
    from kafka_workers_spark.pipeline import contamination_radius

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % _CR_EVAL_MOD != 0)
    eval_docs = d.filter(F.col("doc_id") % _CR_EVAL_MOD == 0)
    return contamination_radius(
        train,
        eval_docs,
        max_hops=_CR_HOPS,
        dedup_k=MINHASH_K,
        dedup_bands=LSH_BANDS,
        dedup_rows=LSH_ROWS,
        dedup_shingle_n=3,
    )
