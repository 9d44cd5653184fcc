"""Lifecycle state machine (A14), Kafka option mapping (A1/A7/A8/A10),
and the batch deadline listener (A9).

Reference behaviors pinned: LifecycleTest.java:53-135 (legal/illegal
transitions), ShutdownTest.java:79-143 (graceful close), WorkersConfig
option semantics (README.md:105-283)."""

from __future__ import annotations

import dataclasses
import typing

import pytest

from kafka_workers_spark.session import WorkersConfig
from kafka_workers_spark.sources.kafka import kafka_options, kafka_sink_options
from kafka_workers_spark.streaming.lifecycle import (
    BadStatusError,
    BatchDeadlineListener,
    Status,
    WorkersQuery,
)


class _FakeQuery:
    def __init__(self):
        self.stopped = False

    def stop(self):
        self.stopped = True

    def awaitTermination(self, timeout=None):  # noqa: N802
        return True


def test_lifecycle_happy_path():
    wq = WorkersQuery(lambda: _FakeQuery())
    assert wq.status == Status.CREATED
    wq.start()
    assert wq.status == Status.STARTED
    wq.shutdown()
    assert wq.status == Status.CLOSED_GRACEFULLY
    assert wq.query.stopped


def test_lifecycle_rejects_double_start():
    wq = WorkersQuery(lambda: _FakeQuery())
    wq.start()
    with pytest.raises(BadStatusError):
        wq.start()


def test_lifecycle_rejects_shutdown_before_start():
    wq = WorkersQuery(lambda: _FakeQuery())
    with pytest.raises(BadStatusError):
        wq.shutdown()


def test_lifecycle_failed_start_is_not_graceful():
    def boom():
        raise RuntimeError("no cluster")

    wq = WorkersQuery(boom)
    with pytest.raises(RuntimeError):
        wq.start()
    assert wq.status == Status.CLOSED_NOT_GRACEFULLY
    with pytest.raises(BadStatusError):
        wq.start()  # terminal state


class _StubbornQuery:
    """awaitTermination times out `stubborn` times before succeeding."""

    def __init__(self, stubborn: int):
        self.stubborn = stubborn
        self.stop_calls = 0

    def stop(self):
        self.stop_calls += 1

    def awaitTermination(self, timeout=None):  # noqa: N802
        if self.stubborn > 0:
            self.stubborn -= 1
            return False
        return True


def test_shutdown_forced_is_not_graceful():
    """ShutdownTest.java:95-110 — threads stop only after the forced
    (shutdownNow) phase -> CLOSED_NOT_GRACEFULLY, and both stop phases ran."""
    wq = WorkersQuery(lambda: _StubbornQuery(stubborn=1), shutdown_timeout_sec=0.01)
    wq.start()
    assert wq.shutdown() == Status.CLOSED_NOT_GRACEFULLY
    assert wq.query.stop_calls == 2


def test_shutdown_cannot_stop_threads():
    """ShutdownTest.java:112-126 — threads survive graceful AND forced
    phases -> CANNOT_STOP_THREADS terminal state."""
    wq = WorkersQuery(lambda: _StubbornQuery(stubborn=2), shutdown_timeout_sec=0.01)
    wq.start()
    assert wq.shutdown() == Status.CANNOT_STOP_THREADS
    assert wq.status.is_terminal


def test_shutdown_interrupted():
    """KafkaWorkersImpl.java:184-186 — interrupt while closing ->
    CLOSING_INTERRUPTED; unlike Java, the Python interrupt must also
    propagate (ADVICE r02) so Ctrl-C actually stops the process, and the
    shutdown callback still fires first."""
    seen = []

    class _InterruptedQuery(_FakeQuery):
        def awaitTermination(self, timeout=None):  # noqa: N802
            raise KeyboardInterrupt

    wq = WorkersQuery(lambda: _InterruptedQuery(), on_shutdown=seen.append)
    wq.start()
    with pytest.raises(KeyboardInterrupt):
        wq.shutdown()
    assert wq.status == Status.CLOSING_INTERRUPTED
    assert seen == [None]


def test_shutdown_callback_receives_cause():
    """impl/KafkaWorkersImpl.java:214 — ShutdownCallback.onShutdown(exc)."""
    seen = []

    class _FailingQuery(_FakeQuery):
        def awaitTermination(self, timeout=None):  # noqa: N802
            raise RuntimeError("task died")

    wq = WorkersQuery(lambda: _FailingQuery(), on_shutdown=seen.append)
    wq.start()
    assert wq.shutdown() == Status.CLOSED_NOT_GRACEFULLY
    assert len(seen) == 1 and str(seen[0]) == "task died"


def test_terminal_statuses_match_reference():
    """api/KafkaWorkers.java:56-67 — exactly four terminal statuses."""
    terminals = {s for s in Status if s.is_terminal}
    assert terminals == {
        Status.CLOSED_GRACEFULLY,
        Status.CLOSED_NOT_GRACEFULLY,
        Status.CANNOT_STOP_THREADS,
        Status.CLOSING_INTERRUPTED,
    }


def test_wait_for_shutdown_failure_transitions_legally():
    """ADVICE r01: the failure edge must go through the transition check,
    not assign status directly."""

    class _FailAwait(_FakeQuery):
        def awaitTermination(self, timeout=None):  # noqa: N802
            raise RuntimeError("poisoned record")

    wq = WorkersQuery(lambda: _FailAwait())
    wq.start()
    with pytest.raises(RuntimeError):
        wq.wait_for_shutdown()
    assert wq.status == Status.CLOSED_NOT_GRACEFULLY
    with pytest.raises(BadStatusError):
        wq.shutdown()  # terminal — no transitions out


def test_wait_for_shutdown_repeat_after_failure_keeps_cause():
    """ADVICE r02: awaitTermination re-raises on every call — a second
    wait_for_shutdown after a recorded failure must re-raise the original
    query exception, not a BadStatusError from an illegal
    terminal->terminal transition."""

    class _FailAwait(_FakeQuery):
        def awaitTermination(self, timeout=None):  # noqa: N802
            raise RuntimeError("poisoned record")

    wq = WorkersQuery(lambda: _FailAwait())
    wq.start()
    with pytest.raises(RuntimeError, match="poisoned record"):
        wq.wait_for_shutdown()
    with pytest.raises(RuntimeError, match="poisoned record"):
        wq.wait_for_shutdown()  # repeat wait: same cause, no BadStatusError
    assert wq.status == Status.CLOSED_NOT_GRACEFULLY


# --- Kafka option mapping --------------------------------------------------


def test_kafka_options_mapping():
    cfg = WorkersConfig(
        topics=["events", "clicks"],
        max_offsets_per_trigger=50_000,
        guarantee="at_least_once",
    )
    opts = kafka_options(cfg, {"consumer.kafka.fetch.min.bytes": "1048576"})
    assert opts["subscribe"] == "events,clicks"
    assert opts["maxOffsetsPerTrigger"] == "50000"
    assert opts["failOnDataLoss"] == "true"
    assert opts["kafka.fetch.min.bytes"] == "1048576"


def test_kafka_options_guarantee_none_tolerates_loss():
    cfg = WorkersConfig(topics=["t"], guarantee="none")
    assert kafka_options(cfg)["failOnDataLoss"] == "false"


def test_kafka_options_require_topics():
    with pytest.raises(ValueError):
        kafka_options(WorkersConfig())


#: probe values for fields whose valid settings are constrained; every
#: other field is probed by its annotated type (int -> 7, str -> "7")
_PROBE = {
    "master": "spark://h:7077",
    "topics": ["u"],
    "guarantee": "none",
    "state_store": "rocksdb",
    "extra_confs": {"spark.k": "v"},
}
#: settings a field is only meaningful with, applied to both sides
_WITH = {"max_trigger_delay": {"min_offsets_per_trigger": 100}}


@pytest.mark.parametrize(
    "name", [f.name for f in dataclasses.fields(WorkersConfig) if f.name != "app_name"]
)
def test_every_workers_config_field_changes_the_engine(name):
    """A WorkersConfig field that neither ``spark_confs()`` nor
    ``kafka_options`` reads is a dead knob: setting it to a non-default
    value must change one of the two."""
    if name in _PROBE:
        value = _PROBE[name]
    else:
        hint = typing.get_type_hints(WorkersConfig)[name]
        kind = next(t for t in typing.get_args(hint) or (hint,) if t is not type(None))
        value = {int: 7, str: "7"}[kind]

    def engine(**kw):
        cfg = WorkersConfig(**{"topics": ["t"], **_WITH.get(name, {}), **kw})
        return cfg.spark_confs(), kafka_options(cfg)

    assert engine(**{name: value}) != engine(), f"WorkersConfig.{name} is read by nothing"


def test_kafka_sink_options():
    assert kafka_sink_options("out") == {"topic": "out"}


# --- Deadline listener (A9, batch granularity) -----------------------------


class _Progress:
    def __init__(self, batch_id, duration):
        self.batchId = batch_id
        self.batchDuration = duration
        self.id = "q-1"


class _Event:
    def __init__(self, progress):
        self.progress = progress


def test_deadline_listener_records_violation():
    listener = BatchDeadlineListener(spark=None, deadline_ms=1000)
    listener.onQueryProgress(_Event(_Progress(1, 500)))
    listener.onQueryProgress(_Event(_Progress(2, 1500)))
    assert len(listener.violations) == 1
    v = listener.violations[0]
    assert v.batch_id == 2 and v.duration_ms == 1500 and v.deadline_ms == 1000


def test_kafka_source_level_options_override_unprefixed():
    """kafka_conf keys naming SOURCE options (startingOffsets, ...) must
    override the defaults un-prefixed; consumer properties still get the
    kafka. prefix (the reference's consumer.kafka.* passthrough)."""
    from kafka_workers_spark.session import WorkersConfig
    from kafka_workers_spark.sources.kafka import kafka_options

    cfg = WorkersConfig(topics=["t"])
    opts = kafka_options(
        cfg,
        {
            "startingOffsets": "latest",
            "minPartitions": "64",
            "consumer.kafka.fetch.min.bytes": "1048576",
        },
    )
    assert opts["startingOffsets"] == "latest"  # overridden, not kafka.-prefixed
    assert opts["minPartitions"] == "64"
    assert opts["kafka.fetch.min.bytes"] == "1048576"
    assert "kafka.startingOffsets" not in opts
    # maxTriggerDelay is only meaningful with minOffsetsPerTrigger; a
    # byte-bounded config must not emit it inert
    opts2 = kafka_options(WorkersConfig(topics=["t"], max_bytes_per_trigger="1g"))
    assert "maxTriggerDelay" not in opts2 and opts2["maxBytesPerTrigger"] == "1g"
    # the connector rejects the offsets+bytes pair at stream start —
    # surface it at config time instead
    with pytest.raises(ValueError, match="not both"):
        kafka_options(
            WorkersConfig(
                topics=["t"], max_offsets_per_trigger=1000, max_bytes_per_trigger="1g"
            )
        )
    with pytest.raises(ValueError, match="not both"):
        kafka_options(
            WorkersConfig(
                topics=["t"], min_offsets_per_trigger=100, max_bytes_per_trigger="1g"
            )
        )
    # batch-sizing floor: min offsets always rides with a bounded wait
    # (the connector ignores maxTriggerDelay without the floor, and a
    # floor without a delay bound could stall a quiet topic forever)
    opts3 = kafka_options(
        WorkersConfig(
            topics=["t"],
            min_offsets_per_trigger=10_000,
            max_offsets_per_trigger=50_000,
            max_trigger_delay="1m",
        )
    )
    assert opts3["minOffsetsPerTrigger"] == "10000"
    assert opts3["maxOffsetsPerTrigger"] == "50000"  # composite limit is legal
    assert opts3["maxTriggerDelay"] == "1m"
    assert kafka_options(
        WorkersConfig(topics=["t"], min_offsets_per_trigger=10_000)
    )["maxTriggerDelay"] == "15m"  # the connector default, made explicit
    with pytest.raises(ValueError, match="min_offsets_per_trigger"):
        kafka_options(WorkersConfig(topics=["t"], max_trigger_delay="1m"))


def test_paused_partitions_analog_from_progress_shapes():
    """A15: consumer-thread.paused-partitions maps to the count of
    partitions with available-but-deferred data (admission control) —
    the closest Spark analog of the reference's paused partitions
    (QueuesManager.java:117-143). All three source offset shapes parse:
    Kafka per-partition dicts (also JSON-encoded), file-source flat
    dicts, and scalar offsets."""
    from kafka_workers_spark.streaming.lifecycle import UNMAPPED_SENSORS, snapshot

    class FakeQuery:
        def __init__(self, progress):
            self.lastProgress = progress

    def snap(sources):
        return snapshot(FakeQuery({"sources": sources}))

    # Kafka shape: partition 1 of topic t has 4 deferred records
    kafka = [{
        "endOffset": {"t": {"0": 10, "1": 5}},
        "latestOffset": {"t": {"0": 10, "1": 9}},
    }]
    assert snap(kafka)["consumer-thread.paused-partitions"] == 1
    # the same, JSON-encoded (progress sometimes carries offsets as strings)
    kafka_str = [{
        "endOffset": '{"t": {"0": 10, "1": 5}}',
        "latestOffset": '{"t": {"0": 10, "1": 9}}',
    }]
    assert snap(kafka_str)["consumer-thread.paused-partitions"] == 1
    # file source drained / behind
    assert snap([{"endOffset": {"logOffset": 2}, "latestOffset": {"logOffset": 2}}])[
        "consumer-thread.paused-partitions"
    ] == 0
    assert snap([{"endOffset": {"logOffset": 2}, "latestOffset": {"logOffset": 3}}])[
        "consumer-thread.paused-partitions"
    ] == 1
    # scalar offsets (rate source), plus a source with no latestOffset
    assert snap([{"endOffset": 5, "latestOffset": 7}, {"endOffset": 5}])[
        "consumer-thread.paused-partitions"
    ] == 1
    # the sensor is mapped now — it must no longer be listed as unmapped
    assert "consumer-thread.paused-partitions" not in UNMAPPED_SENSORS


def test_limit_gauges_from_admission_plan():
    """A15: the reference's startup-computed queue limit gauges
    (QueuesManager.java:59-64 → WorkersMetrics queues-total-size-limit /
    queue-size-limit) surface when snapshot() is handed the admission
    plan, from the same budget arithmetic."""
    from kafka_workers_spark.streaming.lifecycle import UNMAPPED_SENSORS, snapshot
    from kafka_workers_spark.streaming.weigher import admission_plan

    class FakeQuery:
        def __init__(self, progress):
            self.lastProgress = progress

    plan = admission_plan(1 << 30, 8, 616.0)
    snap = snapshot(FakeQuery({"sources": []}), admission=plan)
    assert snap["queues-manager.queues-total-size-limit.bytes"] == 1 << 29
    assert snap["queues-manager.queue-size-limit.bytes"] == (1 << 29) // 8
    # without the plan the gauges are simply absent, not None
    assert "queues-manager.queue-size-limit.bytes" not in snapshot(FakeQuery({}))
    for name in (
        "queues-manager.queues-total-size-limit.bytes",
        "queues-manager.queue-size-limit.bytes",
    ):
        assert name not in UNMAPPED_SENSORS
