"""At-rest store mechanics shared by every stored artifact: the one-row
``meta`` table and its layout-version check, the crash-safe directory
swap, the ``_kw_batch`` replay marker, the replace-publish fold built
from them, the one live runner that drives any fold from a stream
(:func:`live_fold`), an atomic JSON writer and one cross-process lock.
Each store family keeps only its schema and its build/merge.

Reference analog: the stored offsets contract
(``impl/offsets/DefaultOffsetsState.java``) — state that survives a
restart, is never applied twice, and is bound to one consumer lineage.

Replace-publish protocol (:func:`replace_fold`). Spark's
``foreachBatch`` is AT-LEAST-ONCE per batch: a crash between the batch
function returning and the checkpoint commit replays the batch on
restart. Every fold therefore records the last applied ``batch_id`` in
a ``_kw_batch`` marker INSIDE the published directory (the underscore
keeps Spark's parquet reader from treating it as data) and skips a
replayed batch id — the transactional-sink upgrade from at-least-once
to exactly-once, with marker and data versioned by the SAME atomic
directory swap so they can never disagree. Per batch:

    heal → replay guard → skip empty batch → base (or none) →
    family merge → write tmp → stamp marker → swap

The marker also stamps the checkpoint LINEAGE (:func:`last_applied`):
batch ids are monotonic only within one checkpoint, so a fold under a
different lineage raises instead of silently skipping real batches.

Two protocols deliberately stay with their owners, on top of this
module's lock and meta helpers, because the rename swap cannot serve
their workloads: the dedup band index's append-only ``base-``/
``delta-`` log (O(batch) appends, streaming/dedup_index.py) and the
components store's immutable-generation symlink flip (lazy concurrent
scans of the served generation, queries/dedup.py ``_cc_store``).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import warnings
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark.streaming.sinks import foreach_batch_sink

MARKER = "_kw_batch"
_BACKUP = ".pre-swap"


# ---------------------------------------------------------------------------
# One-row parquet meta tables (BM25, positional index, IVF-PQ, components)
# ---------------------------------------------------------------------------


def write_meta(
    spark: SparkSession, path: str, ddl: str, values: tuple, version: int, mode: str
) -> None:
    """Write the one-row ``path/meta`` table: ``values`` in ``ddl``
    column order, then the layout ``version`` as a trailing ``version
    int`` column. ``mode`` passes through to the parquet writer."""
    meta = spark.createDataFrame([(*values, version)], f"{ddl}, version int")
    meta.write.mode(mode).parquet(f"{path}/meta")


def read_meta(spark: SparkSession, path: str, version: int, who: str):
    """Read and validate ``path/meta`` written by :func:`write_meta`;
    returns its one Row. The only driver-side read of a stored index —
    every data table stays a lazy parquet scan."""
    rows = spark.read.parquet(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(f"{who}: expected one meta row, got {len(rows)}")
    check_version(who, rows[0].version, version)
    return rows[0]


def check_version(who: str, found, expected: int) -> None:
    """Refuse a layout this package does not understand instead of
    mis-reading it silently; bump a family's version on any schema
    change."""
    if found != expected:
        raise ValueError(
            f"{who}: layout version {found} != {expected} — rebuild it with "
            "this package"
        )


# ---------------------------------------------------------------------------
# Crash-safe replace publish
# ---------------------------------------------------------------------------


def swap_output(tmp_dir: str, final_dir: str) -> None:
    """Crash-safe publish of a rewritten directory: write the new table
    to ``tmp_dir`` first (Spark's committer leaves a ``_SUCCESS`` marker
    on a completed job), then call this to move it over ``final_dir``
    such that NO crash point loses the old contents before the new ones
    are fully in place.

    Recipe (single-filesystem renames, each one atomic):
      1. refuse a ``tmp_dir`` without ``_SUCCESS`` (half-written job);
      2. park the old table: rename ``final_dir`` → ``final_dir.pre-swap``;
      3. rename ``tmp_dir`` → ``final_dir``;
      4. delete the parked backup.
    A crash between any two steps is recoverable, and RERUNNING this
    function completes the swap: backup-present/final-missing restores
    then redoes the swap; backup-present/final-complete (crash between
    3 and 4) just finishes the cleanup. Readers either see the old
    table or the new one, never a MIX — but each individual rename is
    atomic, not the pair: between park (2) and publish (3),
    ``final_dir`` transiently does not exist, so a reader racing the
    swap can get ENOENT (retry-on-ENOENT on the read path, or use the
    manifest-repoint variant below where absence is unacceptable). The
    swap itself must be SERIALIZED — one scheduler slot, no concurrent
    invocations: two racing swaps can each rename ``final_dir``/backup
    and clobber the other's parked state (ADVICE r05). The crash-safety
    claim is "any absence is one this function's RERUN repairs", not
    "readers never observe an absence".

    On an object store without atomic directory rename, publish by
    repointing a manifest/view at the new prefix instead — the step
    structure (complete marker → repoint → reap old) is the same, and
    the repoint variant also closes the transient-absence window.
    """
    backup = final_dir.rstrip("/") + _BACKUP
    if not os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
        if (
            os.path.exists(os.path.join(final_dir, "_SUCCESS"))
            and os.path.exists(backup)
            and not os.path.exists(tmp_dir)
        ):
            # a prior swap crashed between steps 3 and 4: the new table
            # is live, only the parked backup remains — finish cleanup
            shutil.rmtree(backup)
            return
        raise ValueError(
            f"swap_output: {tmp_dir} has no _SUCCESS marker — refusing to "
            "publish a potentially half-written job output"
        )
    heal(final_dir)
    if os.path.exists(final_dir):
        os.rename(final_dir, backup)
    os.rename(tmp_dir, final_dir)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def heal(final_dir: str) -> None:
    """Repair a :func:`swap_output` crash window BEFORE anything reads
    the store: a kill between the park (final→backup) and publish
    (tmp→final) renames leaves backup-present/final-missing — a fold
    that then read the store would merge against an EMPTY base and
    silently erase all prior history on its next publish, so the parked
    store is restored. The sibling window (crash between publish and
    backup reap: both present) is reaped so stale backups can't linger
    next to — or, for bucketed stores, INSIDE — the store."""
    backup = final_dir.rstrip("/") + _BACKUP
    if not os.path.exists(backup):
        return
    if os.path.exists(final_dir):
        shutil.rmtree(backup)  # completed swap that never reaped
    else:
        os.rename(backup, final_dir)  # torn swap: restore the parked store


def heal_children(parent: str) -> None:
    """:func:`heal` every torn swap among ``parent``'s entries (the
    per-bucket dirs of a bucketed store)."""
    for d in os.listdir(parent):
        if d.endswith(_BACKUP):
            heal(os.path.join(parent, d[: -len(_BACKUP)]))


def mark_complete(path: str) -> None:
    """Stamp a directory-level ``_SUCCESS`` on output assembled from
    several Spark jobs (or one partition of one job) whose own markers
    already vouch for every file, so :func:`swap_output`'s
    half-written-job refusal keys on it."""
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def last_applied(store_dir: str, lineage: str | None) -> int:
    """Read the store's batch marker (-1 when absent), enforcing
    CHECKPOINT LINEAGE: ``foreachBatch`` batch ids are monotonic only
    within one checkpoint lineage — pointing a fresh checkpoint (or a
    second query) at an existing store restarts ids at 0, and the
    ``batch_id <= last_applied`` replay guard would then silently SKIP
    the first N+1 real batches (ADVICE r10). The marker therefore stamps
    the lineage (checkpoint path for streaming entry points, None for
    direct fold driving), and a batch arriving from a DIFFERENT lineage
    fails loudly instead of losing data — stored offsets are bound to
    one consumer group the same way.

    Markers written before the lineage stamp existed have NO ``lineage``
    key at all (distinct from an explicit ``null``, which a direct fold
    stamps). Such a LEGACY store is adopted in place: the batch id is
    honored and the next publish stamps the current lineage (ADVICE
    r11 — raising would refuse precisely the user who followed the
    error's own advice of reusing the original checkpoint)."""
    marker = read_json(os.path.join(store_dir, MARKER))
    if marker is None:
        return -1
    if "lineage" not in marker:
        warnings.warn(
            f"maintenance store {store_dir!r} has a pre-lineage marker; "
            f"adopting it under lineage {lineage!r} (the next publish stamps "
            "it). Batch-id continuity with the original writer is assumed — "
            "if this fold is NOT resuming that writer's checkpoint, delete "
            "the store to rebuild.",
            stacklevel=2,
        )
        return int(marker["batch_id"])
    stamped = marker["lineage"]
    if stamped != lineage:
        raise RuntimeError(
            f"maintenance store {store_dir!r} was last written by lineage "
            f"{stamped!r} but this fold runs under lineage {lineage!r}; "
            "batch ids are only monotonic within one checkpoint lineage, so "
            "proceeding would silently skip real batches. Reuse the original "
            "checkpoint, or delete the store (and its marker) to rebuild "
            "from scratch."
        )
    return int(marker["batch_id"])


def publish(tmp: str, store_dir: str, batch_id: int, lineage: str | None) -> None:
    """Stamp the batch marker (batch id + lineage) inside the complete
    ``tmp`` dir, then swap it in — data and marker commit together or
    not at all."""
    with open(os.path.join(tmp, MARKER), "w") as fh:
        json.dump({"batch_id": batch_id, "lineage": lineage}, fh)
    swap_output(tmp, store_dir)


def published(store_dir: str) -> bool:
    """Whether a complete table is live at ``store_dir``."""
    return os.path.exists(os.path.join(store_dir, "_SUCCESS"))


def _write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def replace_fold(
    spark: SparkSession,
    store_dir: str,
    lineage: str | None,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
    read: Callable[[str], DataFrame] | None = None,
    write: Callable[[DataFrame, str], None] = _write_parquet,
) -> Callable[[DataFrame, int], None]:
    """The one replace-publish fold (protocol in the module docstring):
    ``merge(batch, base)`` receives the live table (``read(store_dir)``,
    default a parquet scan) or ``None`` before the first publish, and
    its result is written by ``write(df, tmp)`` to a sibling tmp dir,
    stamped and swapped in."""
    read = read or spark.read.parquet

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        heal(store_dir)
        if batch_id <= last_applied(store_dir, lineage):
            return  # at-least-once replay of an already-published batch
        if batch_df.isEmpty():
            return
        base = read(store_dir) if published(store_dir) else None
        tmp = f"{store_dir}.tmp-{batch_id}"
        write(merge(batch_df, base), tmp)
        publish(tmp, store_dir, batch_id, lineage)

    return fold


def live_fold(
    df: DataFrame,
    checkpoint: str,
    fold: Callable[..., Callable[[DataFrame, int], None]],
    *args,
    **kwargs,
) -> StreamingQuery:
    """Run a store fold live: ``fold(df.sparkSession, *args, lineage=...,
    **kwargs)`` applied to every micro-batch of ``df``, drained with
    ``availableNow``. The lineage is the absolute checkpoint path, so
    restarting from the same checkpoint resumes exactly and a DIFFERENT
    checkpoint pointed at the same store fails loudly at its first
    batch (:func:`last_applied`)."""
    lineage = os.path.abspath(checkpoint)
    write_batch = fold(df.sparkSession, *args, lineage=lineage, **kwargs)
    return foreach_batch_sink(df, write_batch, checkpoint)


# ---------------------------------------------------------------------------
# Small JSON records and the cross-process lock
# ---------------------------------------------------------------------------


def read_json(path: str) -> dict | None:
    """The JSON record at ``path``, or None when absent."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def write_json(path: str, obj: dict) -> None:
    """Write-then-rename: a crash mid-dump leaves only a dot-prefixed
    tmp file (which the dedup index's heal reaps), never a truncated
    record that bricks every later reader with a JSONDecodeError."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.rename(tmp, path)


@contextmanager
def lock(path: str):
    """Exclusive cross-process mutex on the lock file ``path`` (created
    with its directory). flock is held per open file description, so
    separate ``open()``s also serialize threads within one process; it
    dies with the holder, so a crashed mutator never wedges a store."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield
