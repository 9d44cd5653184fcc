#!/usr/bin/env python
"""Optimization probe: isolated sub-stage timings (noop sink,
cache-cleared) and checks for the heavy rows, so optimization targets the
operator that actually costs. Not part of the bench contract.

Usage: python scripts/probe.py <probe> [...]   (see PROBES below)
  SPARK_GRAFT_SF_DIR     data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_DRIVER_MEM driver heap (default 48g; 6g fits a 15 GB box
                         for the cc probe)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_workers_spark import WorkersConfig, build_session
from kafka_workers_spark.sources.files import load_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# heavy sf0.1 rows (dedup_set_similarity) die on the default heap with
# GCLocker retries (the r15 verify-recipe gotcha) — size like the bench
spark = build_session(
    WorkersConfig(
        app_name="probe",
        extra_confs={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
)


def t(label, df, reps=1):
    best = None
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{best:8.2f}s  {label}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return best


def w(label, fn, reps=1):
    best = None
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{best:8.2f}s  {label}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return best


def _pairs():
    from kafka_workers_spark.queries.dedup import (
        MINHASH_K, LSH_BANDS, LSH_ROWS,
    )
    from kafka_workers_spark.operators.dedup import barrier, lsh_bands
    from kafka_workers_spark.operators.text import tokenize_stage, shingle_stage

    d = load_table(spark, SF, "documents")
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
    return mh.union(ng)


def probe_cc(reps=2):
    """CC on both paths — the default (the driver-side solve when the
    edge list fits one partition) and the round loop forced by a zero
    size limit: rounds, wall, label checksum (order-independent). The
    two checksums must be identical."""
    from kafka_workers_spark.operators import components

    pairs = _pairs()

    def run(label):
        stats = {}
        comp = components.connected_components(
            pairs, src="doc_a", dst="doc_b", stats=stats
        )
        row = comp.agg(
            F.count("*"), F.sum("comp"), F.sum(F.col("node") * F.col("comp"))
        ).collect()[0]
        print(f"   {label} labels checksum:", tuple(row), "rounds:", stats.get("rounds"))

    w("cc default path (+checksum)", lambda: run("default"), reps=reps)
    limit = components._LOCAL_MAX_EDGES
    components._LOCAL_MAX_EDGES = 0
    try:
        w("cc loop forced (+checksum)", lambda: run("loop"), reps=reps)
    finally:
        components._LOCAL_MAX_EDGES = limit


def probe_cc_row(reps=2):
    from kafka_workers_spark.queries import load_all
    fn = load_all()["dedup_components_rebuild"].fn
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, SF).write.format("noop").mode("overwrite").save()
        print(f"{time.perf_counter()-t0:8.2f}s  dedup_components_rebuild row", flush=True)


def probe_pairs(reps=2):
    t("pairs (mh+ng)", _pairs(), reps=reps)


def probe_graph(reps=2):
    from kafka_workers_spark.queries import load_all
    reg = load_all()
    for name in ("graph_bfs_reach", "graph_pagerank"):
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            reg[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
            print(f"{time.perf_counter()-t0:8.2f}s  {name}", flush=True)


def probe_frame_dedup():
    """frame_dedup_pairs: the signature stage alone, then the full operator."""
    from kafka_workers_spark.operators.multimodal import (
        _frame_signatures, frame_dedup_pairs,
    )
    d = load_table(spark, SF, "documents")
    media = d.select("doc_id", F.to_binary(F.col("text"), F.lit("utf-8")).alias("payload"))
    t("frame signatures", _frame_signatures(media, 64, 1, "payload", "doc_id"))
    t("full frame_dedup_pairs", frame_dedup_pairs(media, frame_len=64, every_nth=1,
                                                  max_hamming=3, min_match_frac=0.5))


def probe_setsim_ratio():
    """Candidate:survivor ratio for dedup_set_similarity (VERDICT r15 #3).

    Counts the candidate pairs the prefix join emits (post length +
    positional filters, post dedup) vs the verified output pairs."""
    from pyspark.sql import Window as W
    from kafka_workers_spark.queries import load_all
    from kafka_workers_spark.queries.dedup import _SSJ_NUM, _SSJ_DEN, normalized
    from kafka_workers_spark.operators.dedup import barrier

    num, den = _SSJ_NUM, _SSJ_DEN
    print("threshold:", num, "/", den)
    d = load_table(spark, SF, "documents")
    toked = barrier(
        d.select(
            "doc_id", F.array_distinct(F.split(normalized(F.col("text")), " ")).alias("toks")
        ).filter(F.length(normalized(F.col("text"))) > 0)
    )
    dig = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    toks = toked.select("doc_id", F.explode("toks").alias("__raw")).select(
        "doc_id", dig(F.col("__raw")).alias("__tok")
    )
    dfc = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    wp = W.partitionBy("doc_id").orderBy("__df", "__tok")
    ordered = toks.join(dfc, "__tok").select(
        "doc_id", "__tok",
        F.row_number().over(wp).alias("__pos"),
        F.count("*").over(W.partitionBy("doc_id")).alias("__n"),
    )
    prefix = ordered.filter(
        F.col("__pos") <= F.col("__n") - F.expr(f"({num} * __n + {den} - 1) DIV {den}") + 1
    ).select("doc_id", "__tok", "__n", "__pos")
    a = prefix.select(F.col("doc_id").alias("__ida"), F.col("__tok").alias("__t"),
                      F.col("__n").alias("__na"), F.col("__pos").alias("__pa"))
    b = prefix.select(F.col("doc_id").alias("__idb"), F.col("__tok").alias("__t"),
                      F.col("__n").alias("__nb"), F.col("__pos").alias("__pb"))
    alpha = F.expr(f"({num} * (__na + __nb) + {num} + {den} - 1) DIV ({num} + {den})")
    base = a.join(b, "__t").filter(
        (F.col("__ida") < F.col("__idb"))
        & (F.lit(den) * F.least("__na", "__nb") >= F.lit(num) * F.greatest("__na", "__nb"))
    )
    no_pos = base.select("__ida", "__idb").dropDuplicates(["__ida", "__idb"])
    with_pos = base.filter(
        1 + F.least(F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")) >= alpha
    ).select("__ida", "__idb").dropDuplicates(["__ida", "__idb"])
    print("candidates (no positional filter):", no_pos.count())
    print("candidates (with positional filter):", with_pos.count())
    out = load_all()["dedup_set_similarity"].fn(spark, SF)
    print("survivors:", out.count())


def probe_cluster(reps=2):
    from kafka_workers_spark.queries import load_all
    reg = load_all()
    for name in ("text_cluster_topics", "ann_ivf_topk", "ann_pq_adc_topk"):
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            reg[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
            print(f"{time.perf_counter()-t0:8.2f}s  {name}", flush=True)


def probe_row():
    """Time arbitrary registered rows: probe.py row <name> [reps]"""
    from kafka_workers_spark.queries import load_all, load_extra
    reg = load_all()
    reg.update(load_extra())
    args = [a for a in sys.argv[2:]]
    reps = int(args[-1]) if args and args[-1].isdigit() else 2
    names = [a for a in args if not a.isdigit()]
    for name in names:
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            reg[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
            print(f"{time.perf_counter()-t0:8.2f}s  {name}", flush=True)


def probe_workers(passes=3):
    """Python-worker setup, the cost every worker task pays before its UDF
    runs. Per pass of a library grouped-map over one key group per core:
    each worker process's pid, its zip-importer count, the ms of one
    ``importlib.invalidate_caches()`` (the call worker setup makes), and
    the ms of the interpreter's own re-read of every zip importer (what
    that call costs without session._install_zip_stat_check; '-' where the
    interpreter invalidates lazily and nothing is installed). Then two
    drains of the benchmark's funnel backlog (perfbench StatefulStream)
    with one shuffle partition per core, as the benchmark's session has,
    per-batch ``triggerExecution``."""
    import shutil
    import tempfile

    import pandas as pd

    from kafka_workers_spark.session import default_parallelism
    from kafka_workers_spark.streaming.stateful import WorkerTask, replay_worker_task
    from perfbench.workloads import Ctx, StatefulStream

    def process(key, pdf, st):
        import importlib
        import zipimport

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        reread = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", None)
        raw = None
        if reread is not None:
            files, cache = [f._files for f in zips], dict(zipimport._zip_directory_cache)
            t0 = time.perf_counter()
            for f in zips:
                reread(f)
            raw = (time.perf_counter() - t0) * 1e3
            # put back what the wrapper last read, so the next call does
            # not time freeing these fresh directories
            for f, fs in zip(zips, files):
                f._files = fs
            zipimport._zip_directory_cache.update(cache)
        return pd.DataFrame({"pid": [os.getpid()], "zips": [len(zips)], "ms": [ms], "raw_ms": [raw]}), st

    n = default_parallelism()
    df = spark.range(4 * n).selectExpr(f"id % {n} AS k").repartition(n, "k")
    task = WorkerTask(process=process)
    for i in range(passes):
        rows = replay_worker_task(df, ["k"], task, "pid long, zips long, ms double, raw_ms double").toPandas()
        print(f"pass {i}:", flush=True)
        for pid, g in rows.groupby("pid"):
            raw = "-" if g["raw_ms"].isna().all() else f"{g['raw_ms'].median():.1f}"
            print(f"   pid {pid}  zip importers {g['zips'].max()}  invalidate_caches "
                  f"{g['ms'].median():.1f} ms  unwrapped re-read {raw} ms  ({len(g)} calls)",
                  flush=True)

    work = tempfile.mkdtemp(prefix="kw_probe_workers_")
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        ctx = Ctx(spark, work, seed=2)
        stream = StatefulStream()
        stream.land(ctx)
        stream.expected = stream.reference(ctx)
        for i in range(2):
            u = stream.unit(ctx, f"drain{i}")
            batches = " ".join(f"{ms:.0f}" for ms in u.items_ms)
            print(f"funnel drain {i}: {u.wall_s:.2f}s  correct {u.failed == 0}  "
                  f"triggerExecution ms per batch: {batches}", flush=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        shutil.rmtree(work, ignore_errors=True)


PROBES = {
    "cc": probe_cc,
    "ccrow": probe_cc_row,
    "pairs": probe_pairs,
    "frame": probe_frame_dedup,
    "graph": probe_graph,
    "setsim": probe_setsim_ratio,
    "cluster": probe_cluster,
    "row": probe_row,
    "workers": probe_workers,
}


if __name__ == "__main__":
    names = [a for a in sys.argv[1:] if a in PROBES] or ["cc"]
    for name in names:
        print(f"=== probe {name} (SF={SF}) ===", flush=True)
        PROBES[name]()
    spark.stop()
