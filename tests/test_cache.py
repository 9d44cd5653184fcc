"""The cache owner (kafka_workers_spark/cache.py): generation pins stay
bounded per site and application, a rollover never frees a plan-identical
frame another site keeps, call-scoped holds and loop checkpoints are
freed by ``release``, and the graph family's pins do not grow across
repeated calls on one long-lived session."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kafka_workers_spark import cache
from kafka_workers_spark.cache import hold, pin, release

_no_aqe = pytest.fixture(scope="module", autouse=True)(lambda no_aqe: None)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def test_rollover_keeps_plan_identical_frame_pinned_at_another_site(spark):
    """Pagerank's and hits' edge frames are plan-identical on one input:
    they share one CacheManager entry, so site A's rollover must not
    unpersist the frame site B still keeps."""
    a = pin(spark.range(30).selectExpr("id", "id * 5 AS v"), "test.cache.a")
    b = pin(spark.range(30).selectExpr("id", "id * 5 AS v"), "test.cache.b")
    b.count()
    pin(spark.range(7).selectExpr("id AS other"), "test.cache.a")  # releases a
    assert a.sameSemantics(b)
    assert b.storageLevel.useMemory


def test_pin_prunes_entries_of_other_applications(spark):
    """The registry is keyed by the application id; a stopped
    application's entries (and the frames they hold) go at the next pin."""
    stale = spark.range(3)
    cache._GENERATIONS[("app-stopped-long-ago", "test.cache.site")] = [(0, stale)]
    pin(spark.range(11).selectExpr("id AS pruned_probe"), "test.cache.prune")
    apps = {app for app, _ in cache._GENERATIONS}
    assert apps == {spark.sparkContext.applicationId}


def test_release_frees_holds_and_checkpoints(spark):
    held = hold(spark.range(13).selectExpr("id AS held"))
    held.count()
    lazy = spark.range(17).selectExpr("id AS ck").localCheckpoint(eager=False)
    lazy.count()
    (rid,) = cache.checkpointed_rdd_ids(lazy)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    assert held.storageLevel.useMemory and jmap.get(rid) is not None
    release(held, lazy)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    assert held.storageLevel == StorageLevel.NONE and jmap.get(rid) is None


def test_pin_registry_under_thread_stress(spark):
    """More threads than cores pin distinct frames at one shared site
    (keep=2) with a tiny switch interval: a lost registry update would
    leave an unreleased frame, so exactly the two kept frames stay cached."""
    import sys

    site = "test.cache.stress"
    frames: list = []

    def worker(t: int) -> None:
        for i in range(10):
            frames.append(pin(spark.range(1000 + 100 * t + i), site, keep=2))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            for fut in [pool.submit(worker, t) for t in range(8)]:
                fut.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    kept = cache._GENERATIONS[(spark.sparkContext.applicationId, site)]
    assert len(frames) == 80 and len(kept) == 2
    cached = [f for f in frames if f.storageLevel != StorageLevel.NONE]
    assert sorted(map(id, cached)) == sorted(id(f) for _, f in kept)


def _graph_pass(spark, shift: int) -> list[int]:
    from kafka_workers_spark.operators.components import (
        bfs_hops,
        connected_components,
        hits,
        kcore,
        label_propagation,
        pagerank,
        shortest_paths,
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(i + shift, (i * 7 + 3) % 20 + shift) for i in range(30)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(shift,)], "node long")
    outs = [
        pagerank(edges, iters=1),
        hits(edges, rounds=1),
        label_propagation(edges, iters=1),
        kcore(edges, k=2, iters=1),
        triangle_counts(edges),
        bfs_hops(edges, seeds, max_hops=2),
        shortest_paths(edges, seeds, rounds=2),
    ]
    counts = [o.count() for o in outs]
    comp = connected_components(edges, src="src", dst="dst")
    counts.append(comp.count())
    release(comp)  # the caller owns the returned labels' checkpoint
    return counts


def test_graph_pins_do_not_grow_across_passes(spark):
    """A second pass of the graph family over a shifted graph replaces
    the first pass's pins instead of adding to them."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")  # 30-edge graphs
    try:
        first = _graph_pass(spark, 0)
        after_first = _persistent_rdds(spark)
        assert _graph_pass(spark, 100) == first
        assert _persistent_rdds(spark) <= after_first
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_concurrent_pagerank_matches_serial(spark):
    """Two threads rolling over the same pin sites release each other's
    generations; that may cost a recompute, never a wrong rank or a
    failure."""
    from kafka_workers_spark.operators.components import pagerank

    graphs = [
        spark.createDataFrame(
            [(i, (i * k + 1) % 12) for i in range(12)], "src long, dst long"
        )
        for k in (3, 5)
    ]

    def ranks(g):
        return {r.node: r.r9 for r in pagerank(g, iters=1).collect()}

    serial = [ranks(g) for g in graphs]
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(lambda g=g: [ranks(g) for _ in range(3)]) for g in graphs]
        for fut, want in zip(futs, serial):
            assert fut.result() == [want] * 3


def test_mixed_scheme_raise_leaves_sketch_unheld(spark):
    """Each scheme check holds the sketch before its eager read; when the
    read raises on a mixed scheme, the hold it made is released."""
    from kafka_workers_spark.functions.sketches import (
        bloom_build,
        bloom_merge,
        cms_build,
        cms_merge,
        cms_probe,
    )

    vals = spark.range(0, 20).select(F.col("id").cast("string").alias("v"))
    blooms = bloom_build(vals, "v", n_bits=1 << 10, n_hashes=3).unionByName(
        bloom_build(vals, "v", n_bits=1 << 10, n_hashes=4)
    )
    cms = cms_build(vals, "v", width=32, depth=2).unionByName(
        cms_build(vals, "v", width=64, depth=2)
    )
    for call, sketch in (
        (lambda: bloom_merge(blooms), blooms),
        (lambda: cms_probe(vals, cms, "v"), cms),
        (lambda: cms_merge(cms), cms),
    ):
        with pytest.raises(ValueError, match="distinct"):
            call()
        assert sketch.storageLevel == StorageLevel.NONE


def test_kcenter_coreset_keeps_only_its_center_checkpoints(spark):
    """kcenter_coreset checkpoints a min-distance frame per round; each
    is freed once the next is materialised and the last once the loop
    ends, so a call leaves only the k center frames its returned plan
    reads (it left 2k − 1 before)."""
    from kafka_workers_spark.operators.similarity import kcenter_coreset

    vecs = spark.createDataFrame(
        [(i, [(i * 37 + j * 11) % 101 - 50 for j in range(4)]) for i in range(40)],
        "vec_id long, v6 array<bigint>",
    )
    jmap = spark.sparkContext._jsc.getPersistentRDDs  # noqa: SLF001
    before = set(jmap().keySet().toArray())
    rows = kcenter_coreset(vecs, k=5).collect()
    added = set(jmap().keySet().toArray()) - before
    assert len(rows) == 5
    assert len(added) <= 5, added
