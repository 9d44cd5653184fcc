"""A16 ordered merge — the reference's golden MergerTest scenario.

Reference: MergerTest.java:87-134. Input: paired partitions of two topics;
expected output for partition 0 is the exact merged sequence
[10000, 30000, 50000, 70000, 90000, 110000, 120000, 130000, 140000] —
the tail (150000 on stream one, 200000 on one.p1) stays held back because
the sibling stream never catches up to it.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafka_workers_spark.streaming.merge import merge_ordered

ONE = {0: [10000, 50000, 70000, 130000, 150000], 1: [40000, 90000, 20000, 200000]}
TWO = {0: [30000, 90000, 110000, 120000, 140000]}

EXPECTED_P0 = [10000, 30000, 50000, 70000, 90000, 110000, 120000, 130000, 140000]


def _sides(spark):
    one = spark.createDataFrame(
        [(p, t) for p, ts in ONE.items() for t in ts], "pair int, ts long"
    )
    two = spark.createDataFrame(
        [(p, t) for p, ts in TWO.items() for t in ts], "pair int, ts long"
    )
    return one, two


def test_merge_golden_sequence(spark):
    one, two = _sides(spark)
    released = merge_ordered(one, two, group="pair", ts="ts")
    # the union's column order (positional consumers: union by position,
    # insertInto), not the join's group-first order
    assert released.columns == ["pair", "ts", "side"]
    p0 = [r.ts for r in released.filter("pair = 0").orderBy("ts", "side").collect()]
    assert p0 == EXPECTED_P0


def test_merge_holds_unpaired_partition(spark):
    # partition 1 exists only on stream one -> accept() never true ->
    # nothing released (MergerTest accept: sibling timestamp must exist)
    one, two = _sides(spark)
    released = merge_ordered(one, two, group="pair", ts="ts")
    assert released.filter("pair = 1").count() == 0


def test_merge_streaming_matches_batch(spark, tmp_path):
    """merge_ordered_stream over a file stream releases the same set, in
    timestamp order per group."""
    from kafka_workers_spark.streaming.merge import merge_ordered_stream

    one, two = _sides(spark)
    src = str(tmp_path / "src")
    one.withColumn("side0", F.lit("left")).unionByName(
        two.withColumn("side0", F.lit("right"))
    ).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    left = stream.filter("side0 = 'left'").drop("side0")
    right = stream.filter("side0 = 'right'").drop("side0")
    out = merge_ordered_stream(
        left, right, group="pair", ts="ts", output_schema="pair int, side string, ts long"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("merge_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM merge_out WHERE pair = 0 ORDER BY ts").collect()
    assert [r.ts for r in rows] == EXPECTED_P0
    assert spark.sql("SELECT * FROM merge_out WHERE pair = 1").count() == 0


@pytest.mark.slow
def test_merge_streaming_incremental_release(spark, tmp_path):
    """The live behavior MergerTest exercises: releases happen per batch as
    the slower side catches up; the held-back tail stays buffered until its
    sibling's frontier passes it."""
    import time

    from kafka_workers_spark.streaming.merge import merge_ordered_stream

    src = str(tmp_path / "src")
    batch1 = [(0, t, "left") for t in [10000, 50000, 70000]] + [
        (0, t, "right") for t in [30000, 90000]
    ]
    spark.createDataFrame(batch1, "pair int, ts long, side0 string").coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = merge_ordered_stream(
        stream.filter("side0 = 'left'").drop("side0"),
        stream.filter("side0 = 'right'").drop("side0"),
        group="pair",
        ts="ts",
        output_schema="pair int, side string, ts long",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("inc_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM inc_out").count() >= 4:
                break
            time.sleep(0.3)
        # frontier = min(max_left=70000, max_right=90000) = 70000
        first = [r.ts for r in spark.sql("SELECT * FROM inc_out ORDER BY ts").collect()]
        assert first == [10000, 30000, 50000, 70000], first

        batch2 = [(0, t, "left") for t in [130000, 150000]] + [
            (0, t, "right") for t in [110000, 120000, 140000]
        ]
        spark.createDataFrame(batch2, "pair int, ts long, side0 string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT * FROM inc_out").count() >= 9:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(30)
    final = [r.ts for r in spark.sql("SELECT * FROM inc_out ORDER BY ts").collect()]
    # frontier now min(150000, 140000) = 140000: everything but the 150000
    # tail (its sibling never catches up) — the golden EXPECTED_P0 sequence
    assert final == EXPECTED_P0, final


def test_merge_streaming_carries_payload_columns(spark, tmp_path):
    """The reference merges whole WorkerRecords, not just timestamps —
    payload columns must ride the buffer and come out attached to the
    right rows."""
    from kafka_workers_spark.streaming.merge import merge_ordered_stream

    src = str(tmp_path / "src")
    rows = [(0, t, f"L{t}", "left") for t in [10000, 50000]] + [
        (0, t, f"R{t}", "right") for t in [30000, 60000]
    ]
    spark.createDataFrame(rows, "pair int, ts long, payload string, side0 string").coalesce(
        1
    ).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = merge_ordered_stream(
        stream.filter("side0 = 'left'").drop("side0"),
        stream.filter("side0 = 'right'").drop("side0"),
        group="pair",
        ts="ts",
        output_schema="pair int, ts long, payload string, side string",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("payload_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.ts, r.payload, r.side)
        for r in spark.sql("SELECT * FROM payload_out ORDER BY ts").collect()
    ]
    # frontier = min(50000, 60000) = 50000: the 60000 right row stays held
    assert got == [
        (10000, "L10000", "left"),
        (30000, "R30000", "right"),
        (50000, "L50000", "left"),
    ], got


@pytest.mark.slow
def test_merge_stream_ttl_flushes_buffer(spark, tmp_path):
    """ADVICE r01: state TTL must FLUSH the unreleased tail (at-least-once),
    not silently drop it. A group with only one side present would buffer
    forever; after the TTL fires its rows must appear in the output."""
    import time

    from kafka_workers_spark.streaming.merge import merge_ordered_stream

    src = str(tmp_path / "src")
    batch1 = [(7, t, "left") for t in [10000, 20000]]  # no right sibling ever
    spark.createDataFrame(batch1, "pair int, ts long, side0 string").coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = merge_ordered_stream(
        stream.filter("side0 = 'left'").drop("side0"),
        stream.filter("side0 = 'right'").drop("side0"),
        group="pair",
        ts="ts",
        output_schema="pair int, side string, ts long",
        state_ttl_ms=1200,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        flushed = []
        while time.time() < deadline:
            # keep feeding unrelated groups so batches keep running and the
            # processing-time timeout gets a chance to fire
            spark.createDataFrame(
                [(99, int(time.time() * 1000), "left")], "pair int, ts long, side0 string"
            ).coalesce(1).write.mode("append").parquet(src)
            flushed = spark.sql("SELECT ts FROM ttl_out WHERE pair = 7 ORDER BY ts").collect()
            if len(flushed) >= 2:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert [r.ts for r in flushed] == [10000, 20000]


@pytest.mark.slow
def test_merge_release_rule_property(spark):
    """Property (hypothesis-driven data, one Spark round-trip): for random
    two-sided inputs, the released set is EXACTLY the rows at or below
    their group's low watermark min(max_left, max_right).

    Spark jobs are too slow for per-example hypothesis runs, so examples
    are generated up front and checked in one union job."""
    from hypothesis import strategies as st

    rng_examples = st.lists(
        st.tuples(
            st.integers(0, 3),          # group
            st.sampled_from(["left", "right"]),
            st.integers(0, 50),         # ts
        ),
        min_size=0,
        max_size=60,
    )
    examples = [rng_examples.example() for _ in range(6)]

    for case, rows in enumerate(examples):
        left = [(g, t) for g, s, t in rows if s == "left"]
        right = [(g, t) for g, s, t in rows if s == "right"]
        one = spark.createDataFrame(left or [(99, 0)], "pair int, ts long")
        two = spark.createDataFrame(right or [(98, 0)], "pair int, ts long")
        got = {
            (r.pair, r.side, r.ts)
            for r in merge_ordered(one, two, group="pair", ts="ts").collect()
        }
        # oracle: pure-python release rule
        lmax, rmax = {}, {}
        for g, t in (left or [(99, 0)]):
            lmax[g] = max(lmax.get(g, t), t)
        for g, t in (right or [(98, 0)]):
            rmax[g] = max(rmax.get(g, t), t)
        want = set()
        for side, data in (("left", left or [(99, 0)]), ("right", right or [(98, 0)])):
            for g, t in data:
                if g in lmax and g in rmax and t <= min(lmax[g], rmax[g]):
                    want.add((g, side, t))
        assert got == want, f"case {case}"


def test_merge_null_frontier_side_buffers_sibling(spark):
    """A side whose ts values are all NULL has an UNKNOWN frontier: both
    merge must release nothing (the join used to treat the null frontier
    as caught-up and release the sibling)."""
    from kafka_workers_spark.streaming.merge import merge_ordered

    left = spark.createDataFrame(
        [(1, None), (1, None)], "pair int, ts long"
    )
    right = spark.createDataFrame([(1, 3), (1, 5)], "pair int, ts long")
    assert merge_ordered(left, right, "pair", "ts").count() == 0


def test_merge_ordered_many_three_way(spark):
    """N-way generalization: a group releases only up to the minimum of
    ALL three sides' frontiers, and a group missing any side stays fully
    buffered — the reference's pairwise rule extended to N feeds."""
    from kafka_workers_spark.streaming.merge import merge_ordered_many

    a = spark.createDataFrame([(0, 10), (0, 40), (1, 5)], "g int, t long")
    b = spark.createDataFrame([(0, 20), (0, 35)], "g int, t long")
    c = spark.createDataFrame([(0, 30)], "g int, t long")
    # group 0 frontiers: a=40, b=35, c=30 -> low watermark 30:
    # released = {a:10, b:20, c:30}; a:40 and b:35 buffered.
    # group 1 exists only on side a -> nothing released.
    out = sorted(
        (r.g, r.t, r.side)
        for r in merge_ordered_many({"a": a, "b": b, "c": c}, "g", "t").collect()
    )
    assert out == [(0, 10, "a"), (0, 20, "b"), (0, 30, "c")], out

    import pytest

    with pytest.raises(ValueError, match=">= 2 streams"):
        merge_ordered_many({"a": a}, "g", "t")


@pytest.mark.slow
def test_merge_ordered_stream_many_three_way(spark, tmp_path):
    """Streaming N-way merge: releases follow min-of-three frontiers
    across micro-batches; the late third feed unblocks its group."""
    import time

    from kafka_workers_spark.streaming.merge import merge_ordered_stream_many

    dirs = {}
    for name, rows in {
        "a": [(0, 10), (0, 40)],
        "b": [(0, 20), (0, 35)],
        "c": [(0, 30)],
    }.items():
        d = str(tmp_path / name)
        spark.createDataFrame(rows, "g int, t long").coalesce(1).write.parquet(d)
        dirs[name] = d
    schema = spark.read.parquet(dirs["a"]).schema
    streams = {
        name: spark.readStream.schema(schema).parquet(d) for name, d in dirs.items()
    }
    out = merge_ordered_stream_many(
        streams, "g", "t", "g int, side string, t long"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("nway_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.g, r.t, r.side) for r in spark.sql("SELECT * FROM nway_out").collect())
    assert got == [(0, 10, "a"), (0, 20, "b"), (0, 30, "c")], got


class _FakeState:
    """Minimal GroupState double for driving _merge_handler directly
    (same harness shape as test_gate's FakeGroupState)."""

    def __init__(self):
        self._tuple = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._tuple is not None

    @property
    def get(self):
        return self._tuple

    def update(self, t):
        self._tuple = tuple(t)

    def remove(self):
        self._tuple = None

    def setTimeoutDuration(self, ms):
        pass


def test_merge_stream_handler_random_arrivals_match_reference_model():
    """Property (hypothesis, VERDICT r04 #7): for ANY number of sides
    (2-4), any row set, and any batching of the arrival order, the
    streaming N-way merge handler's cumulative emission equals a
    reference model's — rows release only once every side's frontier is
    known, up to min(frontier), in (ts, side) order, with no drops,
    duplicates, or reorders across micro-batches."""
    import itertools

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_workers_spark.streaming.merge import _merge_handler

    sides_st = st.integers(2, 4)

    @settings(max_examples=40, deadline=None)
    @given(
        n_sides=sides_st,
        data=st.data(),
    )
    def run(n_sides, data):
        names = [f"s{i}" for i in range(n_sides)]
        rows = data.draw(
            st.lists(
                st.tuples(st.sampled_from(names), st.integers(0, 30)),
                min_size=0,
                max_size=40,
            )
        )
        rows = [
            {"side": s, "ts": t, "uid": i} for i, (s, t) in enumerate(rows)
        ]
        batch_sizes = data.draw(st.lists(st.integers(1, 7), min_size=1, max_size=20))

        handle = _merge_handler(
            group="g", ts="ts", cols=["side", "ts", "uid"], side_col="side",
            n_sides=n_sides, state_ttl_ms=None,
        )
        state = _FakeState()

        batches, it = [], iter(rows)
        for size in batch_sizes:
            b = list(itertools.islice(it, size))
            if b:
                batches.append(b)
        rest = list(it)
        if rest:
            batches.append(rest)
        if not batches:
            batches = [[]]

        emitted: list[tuple] = []   # cumulative (side, ts, uid)
        model: list[tuple] = []
        arrived: list[dict] = []
        released_uids: set[int] = set()

        for batch in batches:
            pdfs = iter([pd.DataFrame(batch, columns=["side", "ts", "uid"])]) if batch else iter([])
            for out in handle(("k",), pdfs, state):
                emitted.extend(zip(out["side"], out["ts"], out["uid"]))
            # reference model: ~15 lines
            arrived.extend(batch)
            frontier = {}
            for r in arrived:
                frontier[r["side"]] = max(frontier.get(r["side"], r["ts"]), r["ts"])
            if len(frontier) >= n_sides:
                low = min(frontier.values())
                fresh = [
                    r for r in arrived
                    if r["ts"] <= low and r["uid"] not in released_uids
                ]
                fresh.sort(key=lambda r: (r["ts"], r["side"]))  # stable: arrival order ties
                model.extend((r["side"], r["ts"], r["uid"]) for r in fresh)
                released_uids.update(r["uid"] for r in fresh)

        assert emitted == model

    run()


@pytest.mark.slow
def test_merge_ordered_many_nway_release_rule_property(spark):
    """Property (hypothesis-generated data, batched Spark round-trips):
    the N-way BATCH merge releases exactly the rows at or below their
    group's min-over-all-sides frontier, with NULL-ts and absent sides
    holding the whole group (VERDICT r04 #7's batch arm; generalizes test_merge_release_rule_property to N>2 and
    NULL frontiers)."""
    from hypothesis import strategies as st

    from kafka_workers_spark.streaming.merge import merge_ordered_many

    names = ["a", "b", "c"]
    rng = st.lists(
        st.tuples(
            st.integers(0, 2),                       # group
            st.sampled_from(names),                  # side
            st.one_of(st.none(), st.integers(0, 40)),  # ts (None = NULL)
        ),
        min_size=1,
        max_size=40,
    )
    examples = [rng.example() for _ in range(5)]

    for case, rows in enumerate(examples):
        per_side = {n: [(g, t) for g, s, t in rows if s == n] for n in names}
        frames = {
            n: spark.createDataFrame(data or [(99 + i, None)], "pair int, ts long")
            for i, (n, data) in enumerate(per_side.items())
        }
        # oracle: per-(group, side) max over non-NULL ts; a group releases
        # only if every side has a known frontier
        fr: dict[tuple, int] = {}
        for n in names:
            for g, t in per_side[n] or [(99 + names.index(n), None)]:
                if t is not None:
                    fr[(g, n)] = max(fr.get((g, n), t), t)
        want = set()
        for n in names:
            for g, t in per_side[n] or [(99 + names.index(n), None)]:
                if t is None:
                    continue
                fronts = [fr.get((g, m)) for m in names]
                if all(f is not None for f in fronts) and t <= min(fronts):
                    want.add((g, n, t))
        got = {
            (r.pair, r.side, r.ts)
            for r in merge_ordered_many(frames, group="pair", ts="ts").collect()
        }
        assert got == want, f"case {case}"
