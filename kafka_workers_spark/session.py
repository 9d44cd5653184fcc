"""Session construction and engine configuration.

The reference configures its pipeline through ``WorkersConfig``
(/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/WorkersConfig.java),
a flat key-value config covering consumer topics, worker parallelism,
commit cadence, processing timeouts and queue memory budgets. On Spark most
of those concerns are owned by the framework (checkpointing replaces commit
bookkeeping, admission control replaces queue budgets), so ``WorkersConfig``
here maps the surviving knobs onto Spark configs and leaves the rest to
Structured Streaming.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# Engine defaults. On a real cluster these are overridden per-job. The
# shuffle partition count is a fixed 32, not scaled to cores: AQE coalesces
# small batch shuffles at runtime, but a stateful streaming query keeps 32
# state partitions (fixed by its checkpoint at the first run), each with a
# data and a timeout Python pass per micro-batch even when it holds no key
# — a funnel backlog drained at 3.1–5.2 s per micro-batch at 32 partitions
# vs 0.8–1.1 s at 4 (4-core box). ``WorkersConfig.shuffle_partitions``
# overrides it.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Don't delay task launch waiting for locality: after any Python-UDF
    # stage runs, shuffle tasks carry process-local preferences for the
    # executors holding python workers and the scheduler waits 3s per
    # locality level per task slot — measured 20-30× slowdowns of
    # subsequent JVM-only shuffle stages. Shuffle-heavy analytical work
    # gains nothing from locality waits (data comes from the shuffle
    # service/local disk either way).
    "spark.locality.wait": "0s",
    # Generate-filter inference re-derives computed array columns below
    # repartition exchanges (full interpreted expression tree inlined at
    # the scan, once per consuming branch) — see operators.dedup.barrier.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamp[us] would infer as TIMESTAMP_NTZ, which
    # rejects instant-typed functions (unix_micros, to_utc_timestamp); with
    # the session timezone pinned to UTC, reading them as instants renders
    # identically (sources.files._tune_runtime sets the same for
    # externally-built sessions).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep broadcast threshold at default 10MB; dimension tables in the
    # TPC-H-ish star schema broadcast automatically.
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
}


@dataclass
class WorkersConfig:
    """Engine configuration.

    Reference parity (api/WorkersConfig.java, README.md:105-283):

    - ``consumer.topics``            -> ``topics``
    - ``worker.threads.num``         -> Spark task parallelism (``shuffle_partitions``)
    - ``consumer.commit.interval.ms``-> Spark commits offsets once per
      completed micro-batch (there is no separate commit interval).
    - ``consumer.processing.timeout.ms`` ->
      ``streaming.lifecycle.BatchDeadlineListener(deadline_ms=...)`` (Spark
      has batch-, not record-, granularity — documented divergence,
      SURVEY.md §7).
    - ``queue.total.size.heap.ratio``-> ``max_bytes_per_trigger`` /
      ``max_offsets_per_trigger`` admission control on the source (the
      reference pauses partitions when in-heap queues fill; Spark bounds the
      batch instead and never holds an unbounded in-heap queue).
    - ``record.processing.guarantee``-> ``guarantee`` ('at_least_once'|'none')
    - ``punctuator.interval.ms``     -> processing-time timers in stateful
      tasks (streaming.stateful) — per-key, checkpointed.
    """

    app_name: str = "kafka_workers_spark"
    master: str | None = None
    topics: list[str] = field(default_factory=list)
    shuffle_partitions: int | None = None
    max_offsets_per_trigger: int | None = None
    max_bytes_per_trigger: str | None = None
    #: Batch-sizing FLOOR: wait until at least this many offsets are
    #: available before firing a micro-batch — the analog of the
    #: reference's queues filling ahead of the worker thread
    #: (impl/queues/QueuesManager.java buffers records until the task
    #: drains them; a floor amortizes per-batch overhead the same way).
    #: ``max_trigger_delay`` (e.g. "15m") bounds the wait so a quiet
    #: topic still flushes; it is only meaningful with the floor set.
    min_offsets_per_trigger: int | None = None
    max_trigger_delay: str | None = None
    guarantee: str = "at_least_once"  # or "none"
    #: Stateful-operator backing store: 'hdfs' (default in-heap provider) or
    #: 'rocksdb' — large keyed state (WorkerTask parity at many keys) should
    #: use RocksDB so state size is bounded by local disk, not executor heap.
    #: Verified working in-container with applyInPandasWithState.
    state_store: str = "hdfs"
    extra_confs: dict[str, str] = field(default_factory=dict)

    def spark_confs(self) -> dict[str, str]:
        if self.guarantee not in ("at_least_once", "none"):
            # a typo here must not silently weaken delivery semantics —
            # sources/kafka.py maps any non-at_least_once value to
            # failOnDataLoss=false (skip-and-continue)
            raise ValueError(f"unknown guarantee: {self.guarantee!r}")
        confs = dict(_DEFAULT_CONFS)
        if self.master and not self.master.startswith("local"):
            # 127.0.0.1 as the driver address is a local-mode convenience
            # (stops hostname-resolution stalls in containers); on a real
            # cluster executors must dial the actual driver host
            confs.pop("spark.driver.host", None)
        if self.shuffle_partitions is not None:
            confs["spark.sql.shuffle.partitions"] = str(self.shuffle_partitions)
        if self.state_store == "rocksdb":
            confs["spark.sql.streaming.stateStore.providerClass"] = (
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            )
        elif self.state_store != "hdfs":
            raise ValueError(f"unknown state_store: {self.state_store!r}")
        confs.update(self.extra_confs)
        return confs


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(config: WorkersConfig | None = None) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine."""
    config = config or WorkersConfig()
    master = config.master or f"local[{default_parallelism()}]"
    builder = SparkSession.builder.appName(config.app_name).master(master)
    for k, v in config.spark_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _install_zip_stat_check() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that have
    not changed since they were last read.

    Every PySpark Python-worker task starts with
    ``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
    ``setup_spark_files``), and the JVM puts ``pyspark.zip`` and the py4j
    zip first on the worker's ``PYTHONPATH``. Where
    ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
    central directory at once (CPython 3.10/3.11), a reused worker holds
    one zip importer per package path inside those archives and re-reads
    the same two directories for each of them on every task: 110–300 ms
    per task, measured inside workers on a 4-core box. CPython 3.12+ invalidates lazily (its
    ``zipimporter`` has ``_get_files``), and there this does nothing.

    The wrapper re-reads an archive only when its ``(st_mtime_ns,
    st_size)`` differs from the archive's last read, and otherwise points
    the importer at that read's directory — the dict a new importer of the
    same archive gets from ``zipimport._zip_directory_cache`` anyway. An
    archive that cannot be stat-ed, or whose last read failed, falls
    through to the original re-read. Directory finders are untouched.
    Idempotent; the package ``__init__`` calls it, so a worker installs it
    when it unpickles its first library UDF.
    """
    zi = zipimport.zipimporter
    reread = getattr(zi, "invalidate_caches", None)
    if reread is None or hasattr(zi, "_get_files") or hasattr(reread, "_stat_checked"):
        return
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        hit = last_read.get(self.archive)
        if stamp is not None and hit is not None and hit[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reread(self)
        if stamp is not None and self._files:
            # stamped BEFORE the read: a write racing the read leaves a
            # newer stamp, so the next call re-reads
            last_read[self.archive] = (stamp, self._files)
        else:
            last_read.pop(self.archive, None)

    invalidate_caches._stat_checked = True
    zi.invalidate_caches = invalidate_caches
    # importers built before the install carry directories of unknown
    # age: read each archive once now, so the next task's call is free
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            finder.invalidate_caches()
