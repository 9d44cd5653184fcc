"""Live components-store maintenance (streaming/components.py): pair
batches fold into the stored (node, comp) labeling through
components_merge, with a checkpoint restart in the middle — the final
store must equal the one-shot closure over every pair ever landed, a
replayed batch must be a no-op, a foreign lineage must fail loudly, and
a torn swap must heal. The scd2/upsert maintenance contract, applied to
the round-13 components artifact."""

from __future__ import annotations

import pytest

# slow tier (VERDICT r12 #6): live foreachBatch runs with restart/replay —
# seconds-per-test by nature (micro-batch scheduling waits, not compute).
pytestmark = pytest.mark.slow

from kafka_workers_spark.operators.components import connected_components
from kafka_workers_spark.streaming.components import (
    components_fold,
    read_components_store,
    streaming_components_maintenance,
)

PAIR_SCHEMA = "doc_a long, doc_b long"

# three batches whose union exercises the merge shapes: extension of an
# existing component, a bridge that merges two stored components, and
# brand-new nodes
B1 = [(1, 2), (10, 11), (30, 31)]
B2 = [(2, 3), (50, 51)]          # extends {1,2}; new component {50,51}
B3 = [(3, 10), (60, 61)]         # bridges {1,2,3}-{10,11}; new {60,61}


def _canon(df):
    return sorted((r.node, r.comp) for r in df.collect())


def test_streaming_components_with_restart_equals_one_shot(spark, tmp_path):
    """Batches 1-2 land in run 1; the query stops; batch 3 lands in run 2
    restarted from the SAME checkpoint. The stored labeling then equals
    the one-shot connected_components over all pairs exactly."""
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    spark.createDataFrame(B1, PAIR_SCHEMA).coalesce(1).write.parquet(src)
    spark.createDataFrame(B2, PAIR_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(PAIR_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_components_maintenance(stream, store, ckpt)
        q.awaitTermination(120)

    run()  # run 1: folds batches 0 and 1
    mid = _canon(read_components_store(spark, store))
    want_mid = _canon(
        connected_components(
            spark.createDataFrame(B1 + B2, PAIR_SCHEMA), src="doc_a", dst="doc_b"
        )
    )
    assert mid == want_mid

    spark.createDataFrame(B3, PAIR_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    run()  # run 2: checkpoint restart — only the new file is processed

    want = _canon(
        connected_components(
            spark.createDataFrame(B1 + B2 + B3, PAIR_SCHEMA), src="doc_a", dst="doc_b"
        )
    )
    assert _canon(read_components_store(spark, store)) == want
    # the bridge really merged: 1,2,3,10,11 share one component minimum
    got = dict(_canon(read_components_store(spark, store)))
    assert {got[n] for n in (1, 2, 3, 10, 11)} == {1}


def test_components_fold_replay_and_lineage(spark, tmp_path):
    """A replayed batch id is a no-op (store untouched); a fold under a
    DIFFERENT lineage raises instead of silently skipping; and although
    the merge is replay-idempotent by construction, a replay must not
    even republish (mtime unchanged — the marker skips the work)."""
    import os

    store = str(tmp_path / "store")
    fold = components_fold(spark, store, lineage="ckpt-A")
    fold(spark.createDataFrame(B1, PAIR_SCHEMA), 0)
    fold(spark.createDataFrame(B2, PAIR_SCHEMA), 1)
    after = _canon(read_components_store(spark, store))
    mtime = os.path.getmtime(os.path.join(store, "_kw_batch"))
    fold(spark.createDataFrame(B1, PAIR_SCHEMA), 0)  # replay: skipped
    assert _canon(read_components_store(spark, store)) == after
    assert os.path.getmtime(os.path.join(store, "_kw_batch")) == mtime
    with pytest.raises(RuntimeError, match="lineage"):
        components_fold(spark, store, lineage="ckpt-B")(
            spark.createDataFrame(B3, PAIR_SCHEMA), 0
        )
    # empty batch: no-op, no publish
    fold(spark.createDataFrame([], PAIR_SCHEMA), 2)
    assert _canon(read_components_store(spark, store)) == after


def test_components_fold_heals_torn_swap(spark, tmp_path):
    """Kill window between swap_output's park and publish renames:
    backup present, final missing. Both the next fold and the reader
    must restore the parked store first — a fold that read an absent
    base would close over ONLY the new batch and silently drop every
    historical component."""
    import os

    store = str(tmp_path / "store")
    fold = components_fold(spark, store, lineage="L")
    fold(spark.createDataFrame(B1, PAIR_SCHEMA), 0)
    after = _canon(read_components_store(spark, store))
    os.rename(store, store + ".pre-swap")  # simulate the torn window
    assert _canon(read_components_store(spark, store)) == after  # reader heals
    os.rename(store, store + ".pre-swap")
    fold(spark.createDataFrame(B2, PAIR_SCHEMA), 1)  # fold heals, then merges
    want = _canon(
        connected_components(
            spark.createDataFrame(B1 + B2, PAIR_SCHEMA), src="doc_a", dst="doc_b"
        )
    )
    assert _canon(read_components_store(spark, store)) == want


def _one_shot_labels(spark, docs):
    """One-shot ground truth: closure over the full corpus's
    band-collision pairs."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.pipeline import build_dedup_index

    full_bands = build_dedup_index(docs)
    a, b = full_bands.alias("a"), full_bands.alias("b")
    one_shot_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return sorted(
        (r.node, r.comp)
        for r in connected_components(
            one_shot_pairs, src="doc_a", dst="doc_b"
        ).collect()
    )


def test_incremental_pair_deltas_close_to_one_shot_groups(spark, tmp_path):
    """The full production loop, end to end, FROM THE STORED INDEX
    (VERDICT r13 #3): documents land in three batches through
    dedup_index_fold — each batch joins the STORED band index as of its
    batch id, folds its pair delta into the components store, and
    commits its own bands as a delta. Between batches 2 and 3 the
    producer 'restarts': a brand-new fold instance reloads everything
    from disk (nothing carried in memory). The final labeling must
    equal the ONE-SHOT connected_components over the full corpus's
    band-collision pairs — every colliding pair (i, j) is emitted
    exactly once, in the later member's batch, whether the index it
    joined was freshly built or reloaded. Uses the real sf0.001
    documents so the collision structure is the corpus's own."""
    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import dedup_index_fold

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cc_store")
    index_dir = str(tmp_path / "band_index")
    fold = dedup_index_fold(spark, index_dir, store, lineage="inc")
    fold(docs.filter("doc_id % 3 = 0"), 0)
    fold(docs.filter("doc_id % 3 = 1"), 1)
    # restart: a NEW fold (fresh process simulation) reloads the index
    fold2 = dedup_index_fold(spark, index_dir, store, lineage="inc")
    fold2(docs.filter("doc_id % 3 = 2"), 2)

    got = sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    )
    want = _one_shot_labels(spark, docs)
    assert got == want and len(got) > 0


def test_dedup_index_replay_params_and_lineage(spark, tmp_path):
    """The stored index's contracts: a replayed batch id recomputes the
    identical pair delta against the identical as-of index cut and
    leaves both stores untouched; mismatched blocking parameters and a
    foreign lineage fail loudly; the reader's as-of cut excludes the
    batch's own delta (joining a batch against its own banded rows
    would emit every document as a self-collision)."""
    import os

    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        dedup_index_fold,
        read_dedup_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cc_store")
    index_dir = str(tmp_path / "band_index")
    fold = dedup_index_fold(spark, index_dir, store, lineage="L")
    fold(docs.filter("doc_id % 2 = 0"), 0)
    fold(docs.filter("doc_id % 2 = 1"), 1)
    after = sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    )
    n_rows = read_dedup_index(spark, index_dir).count()
    marker_mtime = os.path.getmtime(os.path.join(store, "_kw_batch"))
    # replay of batch 1: pair delta recomputed against deltas < 1 only,
    # components marker skips, index delta already present — no change
    fold(docs.filter("doc_id % 2 = 1"), 1)
    assert sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    ) == after
    assert read_dedup_index(spark, index_dir).count() == n_rows
    assert os.path.getmtime(os.path.join(store, "_kw_batch")) == marker_mtime
    # the as-of cut: index as of batch 1 is exactly batch 0's rows —
    # no odd doc_id (batch 1) ever appears, and nothing of batch 0 is
    # lost (the two cuts partition the full index)
    as_of = read_dedup_index(spark, index_dir, before_batch=1)
    assert as_of.filter("doc_id % 2 = 1").count() == 0
    assert as_of.count() + read_dedup_index(spark, index_dir).filter(
        "doc_id % 2 = 1"
    ).count() == n_rows
    # parameter mismatch fails loudly on fold AND read
    with pytest.raises(ValueError, match="blocking parameters"):
        dedup_index_fold(spark, index_dir, store, k=16, lineage="L")(
            docs.limit(5), 2
        )
    with pytest.raises(ValueError, match="blocking parameters"):
        read_dedup_index(spark, index_dir, n_bands=8)
    # foreign lineage fails loudly
    with pytest.raises(RuntimeError, match="lineage"):
        dedup_index_fold(spark, index_dir, store, lineage="M")(docs.limit(5), 0)


def test_dedup_index_crash_heal_and_compact(spark, tmp_path):
    """Crash windows and the log-structured merge: a dot-tmp delta from
    a killed append is reaped before anything trusts the dir; compaction
    folds base+deltas into one base with identical content; a crash
    between the compacted base's publish and the absorbed dirs' delete
    (both still present) heals to the same rows, never double-counts."""
    import os

    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        dedup_index_compact,
        dedup_index_fold,
        read_dedup_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cc_store")
    index_dir = str(tmp_path / "band_index")
    fold = dedup_index_fold(spark, index_dir, store, lineage="L")
    for bid, pred in enumerate(["doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2"]):
        fold(docs.filter(pred), bid)
    rows = sorted(
        map(tuple, read_dedup_index(spark, index_dir).collect())
    )
    # killed append: dot-tmp leftover must be reaped, content unchanged
    os.makedirs(os.path.join(index_dir, ".delta-9.tmp"))
    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == rows
    assert not os.path.exists(os.path.join(index_dir, ".delta-9.tmp"))
    # compaction: one base, same rows. The absorbed deltas are RETAINED
    # on disk for one compaction cycle (ADVICE r14 #2 — an in-flight
    # lazy scan planned pre-compaction must still find its files) but a
    # new reader never unions them (floor pruning).
    dedup_index_compact(spark, index_dir)
    names = os.listdir(index_dir)
    assert any(d.startswith("base-") for d in names)
    assert {d for d in names if d.startswith("delta-")} == {
        "delta-0", "delta-1", "delta-2"
    }
    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == rows
    # the retained absorbed deltas and the base coexist by DESIGN now
    # (deferred reap): the reader must never double-count them — the
    # floor prune is the only thing standing between one copy and two
    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == rows
    # folding continues on top of the compacted base: an empty batch is
    # a no-op, and a REAL later batch (copies of early docs under fresh
    # ids) must band-join the compacted rows and merge into their groups
    fold(docs.filter("doc_id % 3 = 0").limit(0), 3)  # empty: no-op
    from pyspark.sql import functions as F

    copies = (
        docs.filter("doc_id % 7 = 0")
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    fold(copies, 4)
    got = sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    )
    assert got == _one_shot_labels(spark, docs.unionByName(copies))
    # every copy landed in its original's component (identical text ->
    # identical bands -> a cross pair against the compacted index)
    labels = dict(got)
    for r in copies.select("doc_id").collect():
        orig = r.doc_id - 1_000_000
        assert labels[r.doc_id] == labels.get(orig, orig), r.doc_id


#: Spark jobs of one first-batch dedup_index_fold over the sf0.001
#: documents (session defaults of the test fixture, AQE on); 51 when the
#: fold re-derived its pairs and CC ran its round loop on them
_FIRST_FOLD_JOBS = 19


def test_dedup_index_fold_releases_its_holds(spark, tmp_path, monkeypatch):
    """A fold holds the batch's band rows and pairs for its own actions
    only: after one first-batch call the session's persistent RDDs and
    the cache registry are back where they started, also when the
    components fold raises. The call's job count is pinned."""
    from kafka_workers_spark import cache
    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming import dedup_index
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    sc = spark.sparkContext

    def cache_state():
        rdds = set(sc._jsc.getPersistentRDDs().keySet().toArray())  # noqa: SLF001
        gens = {k: [id(f) for _, f in v] for k, v in cache._GENERATIONS.items()}
        return rdds, gens

    rdds0, gens0 = cache_state()
    fold = dedup_index.dedup_index_fold(
        spark, str(tmp_path / "idx"), str(tmp_path / "cc"), lineage="H"
    )
    sc.setJobGroup("dedup-fold-jobs", "one first-batch fold")
    try:
        fold(docs, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("dedup-fold-jobs"))
    rdds1, gens1 = cache_state()
    assert rdds1 <= rdds0 and gens1 == gens0
    assert jobs == _FIRST_FOLD_JOBS, jobs

    def failing_components_fold(*args, **kwargs):
        def ccfold(pairs, batch_id):
            pairs.count()
            raise RuntimeError("injected components fold failure")

        return ccfold

    monkeypatch.setattr(dedup_index, "components_fold", failing_components_fold)
    fold = dedup_index.dedup_index_fold(
        spark, str(tmp_path / "idx2"), str(tmp_path / "cc2"), lineage="H"
    )
    with pytest.raises(RuntimeError, match="injected"):
        fold(docs, 0)
    rdds2, gens2 = cache_state()
    assert rdds2 <= rdds0 and gens2 == gens0


def test_streaming_dedup_ingest_with_restart_equals_one_shot(spark, tmp_path):
    """The live wrapper: document batches stream through foreachBatch
    with a checkpoint restart mid-corpus; both stores (band index +
    components labeling) resume exactly and the final labeling equals
    the one-shot closure — the full incremental dedup loop with zero
    caller-carried state."""
    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        read_dedup_index,
        streaming_dedup_ingest,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src, index_dir, store, ckpt = (
        str(tmp_path / d) for d in ("src", "band_index", "cc_store", "ckpt")
    )
    docs.filter("doc_id % 3 = 0").coalesce(1).write.parquet(src)
    docs.filter("doc_id % 3 = 1").coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_dedup_ingest(stream, index_dir, store, ckpt)
        q.awaitTermination(180)

    run()
    docs.filter("doc_id % 3 = 2").coalesce(1).write.mode("append").parquet(src)
    run()  # checkpoint restart: only the new file folds
    got = sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    )
    assert got == _one_shot_labels(spark, docs)
    # the stored index holds every document's bands exactly once
    from kafka_workers_spark.pipeline import build_dedup_index

    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == sorted(
        map(tuple, build_dedup_index(docs).collect())
    )


def test_dedup_index_auto_compaction_bounds_fanin_and_boundary_replay(spark, tmp_path):
    """VERDICT r14 #2 + #7, pinned together on one store. With
    ``compact_every=2`` the fold compacts itself every two committed
    deltas, so a NEW reader never unions more than compact_every + 1
    dirs; absorbed deltas survive on disk exactly ONE compaction cycle
    (the in-flight-lazy-scan retention) and the cycle after that heal
    reaps them; a batch replayed AFTER its delta was absorbed is skipped
    by the base-floor check — no below-floor dir reappears, no pair
    double-applies — and the final labeling still equals the one-shot
    closure."""
    import os

    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        _list_parts,
        dedup_index_fold,
        read_dedup_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cc_store")
    index_dir = str(tmp_path / "band_index")
    fold = dedup_index_fold(
        spark, index_dir, store, lineage="L", compact_every=2
    )
    for bid in range(4):
        fold(docs.filter(f"doc_id % 4 = {bid}"), bid)
        # fan-in bound: what a new reader unions, never > compact_every+1
        assert len(_list_parts(index_dir, None)) <= 3
    names = set(os.listdir(index_dir))
    # two compaction cycles ran: base-1 (cycle 1) then base-3 (cycle 2);
    # every absorbed delta is still retained (heal has not run since
    # base-3 published — retention is AT LEAST one cycle)
    assert "base-3" in names and "base-1" in names
    assert {"delta-0", "delta-1", "delta-2", "delta-3"} <= names
    rows = sorted(map(tuple, read_dedup_index(spark, index_dir).collect()))
    labeled = sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    )
    # boundary replay: batch 1's delta is long absorbed (floor = 3) and
    # its dir reaped — the fold must SKIP the append (floor check), not
    # resurrect delta-1 below the floor, and the marker must skip the
    # pair fold
    fold(docs.filter("doc_id % 4 = 1"), 1)
    assert "delta-1" not in set(os.listdir(index_dir))
    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == rows
    assert sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    ) == labeled
    assert labeled == _one_shot_labels(spark, docs)


def test_streaming_dedup_ingest_compacts_across_boundary(spark, tmp_path):
    """The LIVE loop crossing a compaction boundary (VERDICT r14 #2):
    three files stream one-per-trigger with ``compact_every=2`` — the
    second micro-batch triggers an inline compaction mid-stream and the
    third folds on top of the fresh base. Content must be unaffected:
    labeling equals the one-shot closure, the readable index equals the
    full build, and a base exists (the cadence really fired)."""
    import os

    from kafka_workers_spark.pipeline import build_dedup_index
    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        read_dedup_index,
        streaming_dedup_ingest,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src, index_dir, store, ckpt = (
        str(tmp_path / d) for d in ("src", "band_index", "cc_store", "ckpt")
    )
    for i in range(3):
        docs.filter(f"doc_id % 3 = {i}").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_dedup_ingest(stream, index_dir, store, ckpt, compact_every=2)
    q.awaitTermination(180)
    assert any(d.startswith("base-") for d in os.listdir(index_dir))
    assert sorted(
        (r.node, r.comp) for r in read_components_store(spark, store).collect()
    ) == _one_shot_labels(spark, docs)
    assert sorted(map(tuple, read_dedup_index(spark, index_dir).collect())) == sorted(
        map(tuple, build_dedup_index(docs).collect())
    )


def test_dedup_index_heal_reaps_dot_files_and_lock_survives(spark, tmp_path):
    """ADVICE r14 #4: a crashed meta stamp leaves a dot FILE, which the
    old rmtree-only heal could never remove; heal now unlinks non-dir
    dot entries too. The store mutex file (dot-less) must never be
    reaped."""
    import os

    from kafka_workers_spark.sources.files import load_table
    from kafka_workers_spark.streaming.dedup_index import (
        dedup_index_fold,
        read_dedup_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cc_store")
    index_dir = str(tmp_path / "band_index")
    fold = dedup_index_fold(spark, index_dir, store, lineage="L")
    fold(docs.filter("doc_id % 2 = 0"), 0)
    # crashed meta stamp (a FILE) + crashed append (a DIR): both reaped
    with open(os.path.join(index_dir, "._kw_index_meta.tmp"), "w") as fh:
        fh.write("{}")
    os.makedirs(os.path.join(index_dir, ".delta-7.tmp"))
    read_dedup_index(spark, index_dir).count()
    names = set(os.listdir(index_dir))
    assert "._kw_index_meta.tmp" not in names
    assert ".delta-7.tmp" not in names
    assert "_kw_index_lock" in names  # the mutex is not a crash leftover
