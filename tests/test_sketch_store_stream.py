"""Live HDR-quantile and CMS-frequency maintenance stores
(streaming/sketch_store.py): the generic exactly-mergeable-sketch fold
under the maintenance contract. Cell addition is NOT replay-idempotent
— a double-applied batch would double its counts — so unlike the
set-union folds the batch marker is load-bearing here, and the replay
pin is the important one. Folded == one-shot is pinned CELL-for-cell
for both families across a restart; quantile and frequency consumers
are checked against exact ground truth within each sketch's error
contract."""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from kafka_workers_spark.functions.sketches import cms_build, cms_probe, hdr_build
from kafka_workers_spark.sources.files import load_table
from kafka_workers_spark.streaming.sketch_store import (
    counts_fold,
    histogram_fold,
    read_histogram_store,
    read_sketch_store,
    streaming_histogram_maintenance,
)

SIG, MAXB = 5, 40


def _events(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # value scaled to integer cents: HDR buckets integers
    return ev.select(
        "event_id",
        "event_type",
        "user_id",
        (F.col("value") * 100).cast("bigint").alias("cents"),
    )


def _canon(df):
    return sorted(
        (r.event_type, tuple(r.counts), r.sig_bits, r.max_bits)
        for r in df.collect()
    )


def test_histogram_fold_restart_replay_equals_one_shot(spark, tmp_path):
    """Three batches with a fold-instance restart: stored cell arrays ==
    one-shot hdr_build over all events, cell for cell; a REPLAYED batch
    id must not double its cells (the marker is load-bearing: addition
    is not idempotent); a mixed-scheme fold raises in-plan; quantiles
    from the store bracket the exact percentiles within 2^-sig_bits."""
    ev = _events(spark)
    store = str(tmp_path / "store")
    fold = histogram_fold(
        spark, store, ["event_type"], "cents", sig_bits=SIG, max_bits=MAXB,
        lineage="L",
    )
    fold(ev.filter("event_id % 3 = 0"), 0)
    fold(ev.filter("event_id % 3 = 1"), 1)
    fold2 = histogram_fold(  # restart: nothing carried in memory
        spark, store, ["event_type"], "cents", sig_bits=SIG, max_bits=MAXB,
        lineage="L",
    )
    fold2(ev.filter("event_id % 3 = 2"), 2)
    got = _canon(read_sketch_store(spark, store))
    want = _canon(
        hdr_build(ev, "cents", sig_bits=SIG, max_bits=MAXB,
                  group_cols=["event_type"])
    )
    assert got == want and len(got) > 0
    # replay: cells unchanged (double-add would inflate every count)
    marker = os.path.join(store, "_kw_batch")
    mtime = os.path.getmtime(marker)
    fold2(ev.filter("event_id % 3 = 1"), 1)
    assert os.path.getmtime(marker) == mtime
    assert _canon(read_sketch_store(spark, store)) == got
    # mixed scheme raises before anything lands
    with pytest.raises(Exception, match="mixed|scheme"):
        histogram_fold(
            spark, store, ["event_type"], "cents", sig_bits=SIG + 1,
            max_bits=MAXB, lineage="L",
        )(ev.filter("event_id % 3 = 0"), 3)
    with pytest.raises(RuntimeError, match="lineage"):
        histogram_fold(
            spark, store, ["event_type"], "cents", sig_bits=SIG,
            max_bits=MAXB, lineage="M",
        )(ev.limit(5), 0)
    with pytest.raises(ValueError, match="partition_cols"):
        histogram_fold(spark, store, [], "cents")
    # quantile consumer: p50/p99 from the store vs exact, within the
    # HDR relative-error contract (2^-sig_bits ~ 3%), bucket-low biased
    est = {
        r.event_type: r.quantiles
        for r in read_histogram_store(
            spark, store, qs=[0.5, 0.99], sig_bits=SIG
        ).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p99)
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").alias("p50"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("p99"),
        )
        .collect()
    }
    for et, (q50, q99) in est.items():
        e50, e99 = exact[et]
        assert q50 <= e50 <= q50 * (1 + 2 ** -SIG) + 1, (et, q50, e50)
        assert q99 <= e99 <= q99 * (1 + 2 ** -SIG) + 1, (et, q99, e99)


def test_counts_fold_equals_one_shot_and_probe_bounds(spark, tmp_path):
    """CMS store: folded cells == one-shot cms_build cell-for-cell
    (global single-row mode — the decontamination-filter shape);
    cms_probe against the store never underestimates and matches exact
    counts for the frequent values (the one-sided CMS contract)."""
    ev = _events(spark)
    store = str(tmp_path / "store")
    fold = counts_fold(
        spark, store, "event_type", width=256, depth=4, lineage="L"
    )
    fold(ev.filter("event_id % 2 = 0"), 0)
    fold(ev.filter("event_id % 2 = 1"), 1)
    got = sorted(
        (tuple(r.counts), r.width, r.depth)
        for r in read_sketch_store(spark, store).collect()
    )
    want = sorted(
        (tuple(r.counts), r.width, r.depth)
        for r in cms_build(ev, "event_type", width=256, depth=4).collect()
    )
    assert got == want and len(got) == 1
    # probe: estimate >= exact always; == exact when collisions are
    # absent at this tiny cardinality (5 event types into 256 cells)
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    probed = cms_probe(
        ev.select("event_type").distinct(),
        read_sketch_store(spark, store),
        "event_type",
    )
    for r in probed.collect():
        assert r.cms_count >= exact[r.event_type]
    # replay no-op (addition is NOT idempotent — marker load-bearing)
    fold(ev.filter("event_id % 2 = 0"), 0)
    assert sorted(
        (tuple(r.counts), r.width, r.depth)
        for r in read_sketch_store(spark, store).collect()
    ) == got


def test_streaming_histogram_with_restart_equals_one_shot(spark, tmp_path):
    """The live wrapper across a checkpoint restart: final store ==
    one-shot build, cell for cell."""
    ev = _events(spark)
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    ev.filter("event_id % 3 = 0").coalesce(1).write.parquet(src)
    ev.filter("event_id % 3 = 1").coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, event_type string, user_id long, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_histogram_maintenance(
            stream, store, ckpt, ["event_type"], "cents",
            sig_bits=SIG, max_bits=MAXB,
        )
        q.awaitTermination(120)

    run()
    ev.filter("event_id % 3 = 2").coalesce(1).write.mode("append").parquet(src)
    run()  # checkpoint restart: only the new file folds
    assert _canon(read_sketch_store(spark, store)) == _canon(
        hdr_build(ev, "cents", sig_bits=SIG, max_bits=MAXB,
                  group_cols=["event_type"])
    )


def test_membership_fold_equals_one_shot_and_never_false_negative(spark, tmp_path):
    """Bloom store (the quartet's membership instance): folded words ==
    one-shot bloom_build word-for-word; every value ever folded probes
    TRUE (the one-sided guarantee is monotone — folding only sets
    bits); values never folded mostly probe false at this sizing; a
    mixed-geometry fold raises up front; replay is a no-op."""
    from kafka_workers_spark.functions.sketches import bloom_build, bloom_probe
    from kafka_workers_spark.streaming.sketch_store import membership_fold

    ev = _events(spark).select(
        "event_id", F.concat_ws("#", "event_type", "user_id").alias("seen_key")
    )
    store = str(tmp_path / "store")
    fold = membership_fold(
        spark, store, "seen_key", n_bits=1 << 14, n_hashes=4, lineage="L"
    )
    fold(ev.filter("event_id % 2 = 0"), 0)
    fold(ev.filter("event_id % 2 = 1"), 1)
    got = sorted(
        (tuple(r.words), r.n_bits, r.n_hashes)
        for r in read_sketch_store(spark, store).collect()
    )
    want = sorted(
        (tuple(r.words), r.n_bits, r.n_hashes)
        for r in bloom_build(ev, "seen_key", n_bits=1 << 14, n_hashes=4).collect()
    )
    assert got == want and len(got) == 1
    # one-sided: every folded value probes TRUE
    probed = bloom_probe(
        ev.select("seen_key").distinct(),
        read_sketch_store(spark, store),
        "seen_key",
    )
    assert probed.filter("NOT might_contain").count() == 0
    # unseen values mostly probe FALSE (FP rate, not a correctness claim)
    unseen = spark.range(500).select(
        F.concat(F.lit("never#"), F.col("id")).alias("seen_key")
    )
    fp = bloom_probe(
        unseen, read_sketch_store(spark, store), "seen_key"
    ).filter("might_contain").count()
    assert fp < 100, fp
    # replay no-op + mixed geometry raises
    marker = os.path.join(store, "_kw_batch")
    mtime = os.path.getmtime(marker)
    fold(ev.filter("event_id % 2 = 0"), 0)
    assert os.path.getmtime(marker) == mtime
    with pytest.raises(Exception, match="n_bits|scheme|geometr|mix"):
        membership_fold(
            spark, store, "seen_key", n_bits=1 << 15, n_hashes=4, lineage="L"
        )(ev.limit(5), 2)


@pytest.mark.parametrize("family", ["counts", "membership"])
def test_streaming_counts_and_membership_restart_and_lineage(spark, tmp_path, family):
    """The CMS and Bloom live wrappers: a two-file stream with a
    checkpoint restart between the files ends equal to the one-shot
    build, cell for cell; a second checkpoint pointed at the same store
    fails at its first batch on the lineage stamp and leaves the store
    untouched."""
    from kafka_workers_spark.functions.sketches import bloom_build
    from kafka_workers_spark.streaming.sketch_store import (
        streaming_counts_maintenance,
        streaming_membership_maintenance,
    )

    entry, one_shot, kw, cols = {
        "counts": (
            streaming_counts_maintenance, cms_build,
            {"width": 256, "depth": 4}, ("counts", "width", "depth"),
        ),
        "membership": (
            streaming_membership_maintenance, bloom_build,
            {"n_bits": 1 << 14, "n_hashes": 4}, ("words", "n_bits", "n_hashes"),
        ),
    }[family]

    def canon(df):
        return sorted((tuple(r[cols[0]]), r[cols[1]], r[cols[2]]) for r in df.collect())

    ev = _events(spark).select(
        "event_id", F.concat_ws("#", "event_type", "user_id").alias("seen_key")
    )
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))

    def run(ckpt):
        stream = (
            spark.readStream.schema("event_id long, seen_key string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        entry(stream, store, ckpt, "seen_key", **kw).awaitTermination(120)

    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    run(ckpt)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    run(ckpt)  # checkpoint restart: only the new file folds
    got = canon(read_sketch_store(spark, store))
    assert got == canon(one_shot(ev, "seen_key", **kw)) and len(got) == 1

    with pytest.raises(Exception, match="lineage"):
        run(str(tmp_path / "ckpt_other"))
    assert canon(read_sketch_store(spark, store)) == got
