"""Stateless task surface: delivery guarantees (A4/A10) and the stateful
WorkerTask wrapper (A5/A11).

Reference behaviors pinned:
- RecordStatusObserverTest.java:69-125 — guarantee `at_least_once` fails
  the pipeline on a processing error; `none` skips the record and keeps
  running.
- ProcessingFailureTest.java:68-99 — the failure cause is preserved.
- PunctuateTest.java:70-90 — punctuate fires without data arrival.
"""

from __future__ import annotations

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from kafka_workers_spark.streaming.stateful import WorkerTask, apply_worker_task
from kafka_workers_spark.streaming.tasks import ERROR_COL, split_dlq, transform_batches


def _records(spark, n=20):
    return spark.range(n).select(
        F.col("id").alias("offset"), (F.col("id") % 2).cast("int").alias("partition")
    )


def _double_or_fail_fn():
    # nested so cloudpickle serializes it by value (the tests package is
    # not importable from executor workers)
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["offset"] == 13).any():
            raise ValueError("record 13 poisoned")
        out = pdf.copy()
        out["doubled"] = out["offset"] * 2
        return out

    return fn


def test_at_least_once_propagates_failure(spark):
    df = transform_batches(
        _records(spark),
        _double_or_fail_fn(),
        "offset long, partition int, doubled long",
        guarantee="at_least_once",
    )
    with pytest.raises((Py4JJavaError, Exception)) as exc_info:
        df.collect()
    assert "record 13 poisoned" in str(exc_info.value)


def test_none_guarantee_routes_to_dlq(spark):
    df = transform_batches(
        _records(spark),
        _double_or_fail_fn(),
        f"offset long, partition int, doubled long, {ERROR_COL} string",
        guarantee="none",
    )
    ok, dlq = split_dlq(df)
    ok_rows = ok.collect()
    dlq_rows = dlq.collect()
    assert len(ok_rows) == 19
    assert len(dlq_rows) == 1
    assert dlq_rows[0].offset == 13
    assert "poisoned" in dlq_rows[0][ERROR_COL]
    assert {r.doubled for r in ok_rows} == {2 * i for i in range(20) if i != 13}


def test_none_guarantee_dead_letter_serializes_missing_int_columns(spark):
    """ADVICE r01: the dead-letter row must serialize output-only integral
    columns as real nulls — reindex's float NaN fill would crash Arrow
    under safe conversion, defeating the isolation path."""
    prev = spark.conf.get("spark.sql.execution.pandas.convertToArrowArraySafely", "false")
    spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
    try:
        df = transform_batches(
            _records(spark),
            _double_or_fail_fn(),
            f"offset long, partition int, doubled long, {ERROR_COL} string",
            guarantee="none",
        )
        _, dlq = split_dlq(df)
        dlq_rows = dlq.collect()
        assert len(dlq_rows) == 1
        assert dlq_rows[0].doubled is None
    finally:
        spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", prev)


def test_none_guarantee_requires_error_column(spark):
    with pytest.raises(ValueError):
        transform_batches(_records(spark), _double_or_fail_fn(), "offset long", guarantee="none")


def _omits_column_or_fail_fn():
    def fn(pdf):
        if (pdf["offset"] == 13).any():
            raise RuntimeError("record 13 poisoned")
        # deliberately OMITS the declared integral column 'doubled'
        return pdf[["offset", "partition"]].copy()

    return fn


def test_none_guarantee_success_rows_serialize_missing_int_columns(spark):
    """ADVICE r02: same Arrow-safe null handling on the per-row SUCCESS
    branch — a task that omits a declared integral output column must not
    crash the isolation path (reindex's NaN fill would)."""
    prev = spark.conf.get("spark.sql.execution.pandas.convertToArrowArraySafely", "false")
    spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
    try:
        df = transform_batches(
            _records(spark),
            _omits_column_or_fail_fn(),
            f"offset long, partition int, doubled long, {ERROR_COL} string",
            guarantee="none",
        )
        ok, dlq = split_dlq(df)
        ok_rows = ok.collect()
        assert len(ok_rows) == 19 and all(r.doubled is None for r in ok_rows)
        assert dlq.count() == 1
    finally:
        spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", prev)


# --- stateful WorkerTask ---------------------------------------------------


def test_worker_task_counts_per_key(spark, tmp_path):
    """Per-key state accumulates across micro-batches (WorkerTask state,
    README.md:64) — two files -> two batches -> running count."""
    src = str(tmp_path / "src")
    spark.range(10).select(
        (F.col("id") % 2).cast("int").alias("partition"), F.col("id").alias("offset")
    ).coalesce(1).write.parquet(src)
    spark.range(10, 16).select(
        (F.col("id") % 2).cast("int").alias("partition"), F.col("id").alias("offset")
    ).coalesce(1).write.mode("append").parquet(src)

    task = WorkerTask(
        init=lambda key: {"seen": 0},
        process=lambda key, pdf, st: (
            pd.DataFrame(
                {"partition": [key[0]], "batch_rows": [len(pdf)], "total": [st["seen"] + len(pdf)]}
            ),
            {"seen": st["seen"] + len(pdf)},
        ),
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = apply_worker_task(
        stream,
        ["partition"],
        task,
        "partition int, batch_rows long, total long",
        order_by=["offset"],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("task_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM task_out ORDER BY partition, total").collect()
    # final totals: 16 records over 2 partitions -> 8 each
    finals = {r.partition: r.total for r in rows}
    assert finals == {0: 8, 1: 8}


@pytest.mark.slow
def test_worker_task_state_survives_restart(spark, tmp_path):
    """The documented upgrade over the reference (ARCHITECTURE.md §5):
    task state is checkpointed, so a restarted query CONTINUES its per-key
    counts instead of resetting — and the commit prefix advanced, so the
    first run's files are not reprocessed (A6: a restart emits output for
    new offsets only)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    dst = str(tmp_path / "out")
    spark.createDataFrame(
        [(0, 0), (0, 1), (1, 2), (1, 3)], "partition int, offset long"
    ).coalesce(1).write.parquet(src)

    task = WorkerTask(
        init=lambda key: {"seen": 0},
        process=lambda key, pdf, st: (
            pd.DataFrame({"partition": [key[0]], "total": [st["seen"] + len(pdf)]}),
            {"seen": st["seen"] + len(pdf)},
        ),
    )
    schema = spark.read.parquet(src).schema

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = apply_worker_task(
            stream, ["partition"], task, "partition int, total long",
            order_by=["offset"],
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", dst)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    finals1 = {
        r.partition: r.total
        for r in spark.read.parquet(dst)
        .groupBy("partition").agg(F.max("total").alias("total")).collect()
    }
    assert finals1 == {0: 2, 1: 2}

    # new data lands between runs; the second query resumes from the
    # same checkpoint
    spark.createDataFrame(
        [(0, 4), (1, 5), (1, 6)], "partition int, offset long"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    rows = [(r.partition, r.total) for r in spark.read.parquet(dst).collect()]
    # commit prefix advanced: the restart emitted ONE new row per key on
    # top of run 1's two — a replay of the first batch would add more
    assert len(rows) == 4, rows
    # state survived: counts continue from 2, not restart at the batch size
    assert sorted(rows) == [(0, 2), (0, 3), (1, 2), (1, 4)], sorted(rows)


@pytest.mark.slow
def test_worker_task_punctuate_fires_without_data(spark, tmp_path):
    """A5: a key idle in a later batch gets its punctuate callback
    (processing-time timer)."""
    src = str(tmp_path / "src")
    # batch 1: keys 0 and 1; batch 2 (separate file): key 1 only
    spark.createDataFrame([(0, 0), (1, 1)], "partition int, offset long").coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame([(1, 2)], "partition int, offset long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    task = WorkerTask(
        init=lambda key: {"n": 0},
        process=lambda key, pdf, st: (
            pd.DataFrame({"partition": [key[0]], "kind": ["data"], "n": [st["n"] + len(pdf)]}),
            {"n": st["n"] + len(pdf)},
        ),
        punctuate=lambda key, st, now: (
            pd.DataFrame({"partition": [key[0]], "kind": ["punctuate"], "n": [st["n"]]}),
            st,
        ),
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = apply_worker_task(
        stream,
        ["partition"],
        task,
        "partition int, kind string, n long",
        punctuate_interval_ms=1,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("punct_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 90
    seen_punct = False
    while time.time() < deadline and not seen_punct:
        time.sleep(0.25)
        seen_punct = (
            spark.sql("SELECT * FROM punct_out WHERE kind = 'punctuate'").count() > 0
        )
    q.stop()
    q.awaitTermination(30)
    assert seen_punct, "punctuate never fired for the idle key"


def test_dlq_row_with_incompatible_input_dtype(spark):
    """A failed row whose input value cannot serialize under the declared
    output type (the unparseable string that made fn raise, in a column
    declared double) must become a NULL + error DLQ row — not an Arrow
    crash that kills the guarantee='none' pipeline."""
    from kafka_workers_spark.streaming.tasks import split_dlq, transform_batches

    df = spark.createDataFrame(
        [(1, "1.5"), (2, "abc"), (3, "2.5")], "id long, value string"
    )

    def fn(pdf):
        out = pdf.copy()
        out["value"] = out["value"].astype("float64")  # 'abc' raises
        return out

    res = transform_batches(df, fn, "id long, value double, __error string", guarantee="none")
    ok, dlq = split_dlq(res)
    assert sorted(r.id for r in ok.collect()) == [1, 3]
    bad = dlq.collect()
    assert len(bad) == 1 and bad[0].id == 2
    assert bad[0].value is None and "could not convert" in bad[0]["__error"]


# ---------------------------------------------------------------------------
# Direct-handler tests (fake GroupState): envelope migration + timer epochs
# (ADVICE r03) — no live query needed
# ---------------------------------------------------------------------------


class _FakeState:
    def __init__(self, now_ms=0):
        self._tuple = None
        self.now_ms = now_ms
        self.hasTimedOut = False
        self.timeouts = []

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
        self.timeouts.append(ms)

    def getCurrentProcessingTimeMs(self):
        return self.now_ms


def _drive_task(handle, state, rows):
    out = []
    it = iter([pd.DataFrame(rows)]) if rows else iter([])
    for emitted in handle((0,), it, state):
        out.extend(emitted.to_dict("records"))
    return out


def _counting_task():
    from kafka_workers_spark.streaming.stateful import WorkerTask

    def process(key, pdf, st):
        st = {**st, "n": st.get("n", 0) + len(pdf)}
        return pdf[["offset"]], st

    def punctuate(key, st, now_ms):
        return pd.DataFrame({"offset": [-1]}), {**st, "flushes": st.get("flushes", 0) + 1}

    return WorkerTask(process=process, punctuate=punctuate)


def test_punctuate_epoch_starts_at_key_creation():
    """A new key must NOT punctuate on its first data batch — the first
    interval-flush fires one interval after the key appears, like the
    reference's punctuator (ADVICE r03: no spurious epoch-zero output)."""
    import json

    from kafka_workers_spark.streaming.stateful import _task_handler

    handle = _task_handler(_counting_task(), 1000, ["offset"], None, 1000)
    state = _FakeState(now_ms=5000)
    out = _drive_task(handle, state, [{"offset": 1}])
    assert [r["offset"] for r in out] == [1]  # no -1 flush row
    env = json.loads(state.get[0])
    assert env["p"] == 5000 and env["u"].get("flushes") is None

    state.now_ms = 5999  # interval not yet elapsed
    out = _drive_task(handle, state, [{"offset": 2}])
    assert [r["offset"] for r in out] == [2]

    state.now_ms = 6000  # one full interval after creation -> fires
    out = _drive_task(handle, state, [{"offset": 3}])
    assert [r["offset"] for r in out] == [3, -1]
    assert json.loads(state.get[0])["u"]["flushes"] == 1


def test_legacy_raw_dict_state_migrates_into_envelope():
    """A checkpoint written before the {'u','p','d'} envelope stored the
    raw user dict; restarting on it must wrap, not crash with KeyError
    (ADVICE r03), and the user state must carry over."""
    import json

    from kafka_workers_spark.streaming.stateful import _task_handler

    handle = _task_handler(_counting_task(), 1000, ["offset"], None, 1000)
    state = _FakeState(now_ms=9000)
    state.update((json.dumps({"n": 7}),))  # legacy: raw user dict, no envelope
    out = _drive_task(handle, state, [{"offset": 4}])
    assert [r["offset"] for r in out] == [4]
    env = json.loads(state.get[0])
    assert env["u"]["n"] == 8  # legacy count carried over and incremented
    assert env["p"] == 9000 and env["d"] == 9000  # clocks restarted at now


def _lifecycle_task():
    """Counts rows per key and tags every emitted row with the hook that
    produced it."""

    def row(key, kind, st):
        return pd.DataFrame({"k": [key[0]], "kind": [kind], "n": [st["n"]]})

    def process(key, pdf, st):
        st = {"n": st["n"] + len(pdf)}
        return row(key, "data", st), st

    return WorkerTask(
        init=lambda key: {"n": 0},
        process=process,
        punctuate=lambda key, st, now_ms: (row(key, "punct", st), st),
        close=lambda key, st: row(key, "close", st),
    )


def _drive_chunks(handle, state, chunks, now_ms, timed_out=False):
    state.now_ms, state.hasTimedOut = now_ms, timed_out
    out = []
    for emitted in handle((1,), iter(chunks), state):
        out.extend(emitted.to_dict("records"))
    return out


def test_handler_runs_init_then_one_process_call_over_all_chunks():
    """init seeds the user state; a key's Arrow chunks reach ``process``
    as ONE frame; the envelope records both clocks and the timer is
    armed for the next tick."""
    import json

    from kafka_workers_spark.streaming.stateful import _task_handler

    handle = _task_handler(_lifecycle_task(), 1000, None, None, 1000)
    state = _FakeState()
    chunks = [pd.DataFrame({"v": [1, 2]}), pd.DataFrame({"v": [3]})]
    out = _drive_chunks(handle, state, chunks, now_ms=5000)
    assert out == [{"k": 1, "kind": "data", "n": 3}]
    assert json.loads(state.get[0]) == {"u": {"n": 3}, "p": 5000, "d": 5000}
    assert state.timeouts == [1000]


def test_handler_order_by_sorts_across_chunks():
    """``order_by`` sorts the concatenated key group, not each chunk: a
    per-chunk sort would break per-offset order for any group larger
    than one Arrow batch."""
    from kafka_workers_spark.streaming.stateful import _task_handler

    seen = []

    def process(key, pdf, st):
        seen.extend(pdf["v"])
        return None, st

    handle = _task_handler(WorkerTask(process=process), None, ["v"], None, None)
    chunks = [pd.DataFrame({"v": [5, 3]}), pd.DataFrame({"v": [4, 1]})]
    _drive_chunks(handle, _FakeState(), chunks, now_ms=0)
    assert seen == [1, 3, 4, 5]


def test_handler_expired_timer_forces_punctuate_and_rearms():
    """A timer firing on a silent key punctuates even before a full
    interval has passed since the last punctuate, restarts the punctuate
    clock at the firing time, and re-arms the timer."""
    import json

    from kafka_workers_spark.streaming.stateful import _task_handler

    handle = _task_handler(_lifecycle_task(), 1000, None, None, 1000)
    state = _FakeState()
    _drive_chunks(handle, state, [pd.DataFrame({"v": [1]})], now_ms=5000)
    state.timeouts.clear()
    out = _drive_chunks(handle, state, [], now_ms=5500, timed_out=True)
    assert out == [{"k": 1, "kind": "punct", "n": 1}]
    env = json.loads(state.get[0])
    assert env["p"] == 5500 and env["d"] == 5000
    assert state.timeouts == [1000]


def test_handler_idle_timeout_closes_key_and_clears_state():
    """Before ``idle_timeout_ms`` of silence a timer fire only
    punctuates; after it, ``close`` emits the final row and the key's
    state is removed with no timer re-armed."""
    from kafka_workers_spark.streaming.stateful import _task_handler

    handle = _task_handler(_lifecycle_task(), 1000, None, 3000, 1000)
    state = _FakeState()
    _drive_chunks(handle, state, [pd.DataFrame({"v": [1]})], now_ms=5000)
    out = _drive_chunks(handle, state, [], now_ms=6000, timed_out=True)
    assert [r["kind"] for r in out] == ["punct"]
    state.timeouts.clear()
    out = _drive_chunks(handle, state, [], now_ms=8000, timed_out=True)
    assert out == [{"k": 1, "kind": "close", "n": 1}]
    assert not state.exists and state.timeouts == []


def test_replay_worker_task_process_close_and_empty_keys(spark):
    """The batch twin on three keys: key 1 emits from ``process``, key 2
    only from ``close``, key 3 nothing. ``init`` seeds each key's state
    and ``order_by`` sorts each key's history before ``process``; a key
    with no output adds zero rows, alone or beside the others, and the
    declared schema holds."""
    from pyspark.sql.types import StructType

    from kafka_workers_spark.streaming.stateful import replay_worker_task

    def row(key, kind, seq):
        return pd.DataFrame({"k": [key[0]], "kind": [kind], "seq": [",".join(map(str, seq))]})

    def process(key, pdf, st):
        seq = st["seq"] + pdf["v"].tolist()
        return (row(key, "process", seq) if key[0] == 1 else None), {"seq": seq}

    def close(key, st):
        return row(key, "close", st["seq"]) if key[0] == 2 else None

    task = WorkerTask(init=lambda key: {"seq": [100 * key[0]]}, process=process, close=close)
    schema = "k int, kind string, seq string"
    df = spark.createDataFrame(
        [(1, 3), (1, 1), (2, 5), (1, 2), (3, 7), (2, 4)], "k int, v int"
    )
    out = replay_worker_task(df, ["k"], task, schema, order_by=["v"])
    assert out.schema == StructType.fromDDL(schema)
    assert sorted(map(tuple, out.collect())) == [
        (1, "process", "100,1,2,3"),
        (2, "close", "200,4,5"),
    ]
    silent = replay_worker_task(df.filter("k = 3"), ["k"], task, schema, order_by=["v"])
    assert silent.collect() == [] and silent.schema == StructType.fromDDL(schema)


def test_coerce_to_schema_nulls_unverifiable_types():
    """DLQ coercion: values of unverifiable declared types (arrays, ...)
    are nulled — they could still crash the Arrow conversion the helper
    exists to prevent; verifiable timestamp/date/decimal values now pass
    through when well-typed (ADVICE r03)."""
    import datetime
    import decimal

    from pyspark.sql.types import StructType

    from kafka_workers_spark.streaming.tasks import _coerce_to_schema

    schema = StructType.fromDDL(
        "a array<int>, t timestamp, d date, m decimal(10,2), s string"
    )
    row = pd.DataFrame(
        {
            "a": [[1, 2, 3]],
            "t": [datetime.datetime(2024, 1, 1, 12)],
            "d": [datetime.date(2024, 1, 1)],
            "m": [decimal.Decimal("3.14")],
            "s": ["ok"],
        }
    )
    out = _coerce_to_schema(row, schema)
    assert out["a"].iloc[0] is None  # unverifiable -> nulled
    assert out["t"].iloc[0] == datetime.datetime(2024, 1, 1, 12)
    assert out["d"].iloc[0] == datetime.date(2024, 1, 1)
    assert out["m"].iloc[0] == decimal.Decimal("3.14")
    assert out["s"].iloc[0] == "ok"

    # a mismatched timestamp value (string where timestamp declared) nulls
    bad = pd.DataFrame({"t": ["not-a-time"], "s": ["x"]})
    out = _coerce_to_schema(bad, schema)
    assert out["t"].iloc[0] is None and out["s"].iloc[0] == "x"
