"""Stateful per-key tasks with punctuation: the full ``WorkerTask`` model.

Reference: a ``WorkerTask`` instance per sub-partition with single-threaded
access to private state, ``init``/``close`` lifecycle, and processing-time
``punctuate`` callbacks
(/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/task/
WorkerTask.java:11-70; punctuation impl/task/WorkerThread.java:87-102,
impl/punctuator/PunctuatorThread.java:14-47; README.md:64 mutual-exclusion
guarantee).

Spark mapping: ``applyInPandasWithState`` keyed by the caller's ``keys``
columns (the funnel keys by ``user_id``), not Spark 4's
``transformWithStateInPandas``, because the latter's Python runner needs
``google.protobuf`` at query runtime.
Spark gives the same per-key mutual exclusion (state callbacks for one key
are serialized) and *more* than the reference: state survives restarts via
the checkpointed state store, where the reference's task state is volatile
(README.md:64; SURVEY.md §7 risk list — tests must not assume loss).

Punctuate parity: the reference fires ``punctuate(now)`` every
``punctuator.interval.ms`` regardless of data (WorkerThread.java:87-102).
Here both legs are covered: with no data, the per-key processing-time
timeout fires the callback; with data flowing, the data path itself
invokes ``punctuate`` whenever the interval has elapsed since the last
firing (the engine tracks the last-punctuate clock in a state envelope).
Granularity is micro-batch-quantized — documented divergence (SURVEY.md
§7).

Lifecycle parity: ``init`` on first state creation; ``close`` when a key
expires after ``idle_timeout_ms`` without data — state is removed and the
timer disarmed, so state size tracks the ACTIVE key set, not every key
ever seen.

At 100 TB: state is partitioned by key across executors (RocksDB-backed
state store in production configs); no driver-side state, no collect.

Cost model: each stateful task (one per state partition per micro-batch)
opens two Python worker invocations when a timer is configured
(``punctuate_interval_ms`` or ``idle_timeout_ms``) — the data pass over
the batch's key groups, then the timeout pass over keys whose timer
expired — and each pays the worker's per-task setup before the handler
runs. On CPython 3.11 that setup's zip-directory re-reads dominated a
small funnel batch until ``session._install_zip_stat_check``
(ARCHITECTURE.md §6).

Batch twin: :func:`replay_worker_task` runs the same task over each key's
whole history in one grouped-map pass — the cross-plan oracles compare
it with the relational operators.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


@dataclass
class WorkerTask:
    """Per-key task: override any of the hooks.

    - ``init(key)``: called when the key's state is first created
      (WorkerTask.java:22 init-on-assignment).
    - ``process(key, pdf, state)``: this key's records for the batch —
      concatenated across Arrow chunks and ordered by the caller's sort
      columns; returns output rows (pandas DataFrame) and the new state.
    - ``punctuate(key, state, now_ms)``: processing-time callback, fired
      every interval with or without data (WorkerTask.java:59-60).
    - ``close(key, state)``: called when the key expires after
      ``idle_timeout_ms`` without data (WorkerTask.java:67-68 close on
      revocation); may return final output rows (or None).
    """

    init: Callable[[tuple], dict] | None = None
    process: Callable[[tuple, pd.DataFrame, dict], tuple[pd.DataFrame, dict]] | None = None
    punctuate: Callable[[tuple, dict, int], tuple[pd.DataFrame, dict]] | None = None
    close: Callable[[tuple, dict], pd.DataFrame | None] | None = None


def apply_worker_task(
    df: DataFrame,
    keys: list[str],
    task: WorkerTask,
    output_schema: StructType | str,
    punctuate_interval_ms: int | None = None,
    order_by: list[str] | None = None,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Run a :class:`WorkerTask` per key group over a (streaming or batch-
    grouped) DataFrame.

    User state is a plain dict serialized to JSON — schema-free like the
    reference's arbitrary task fields. (Internally it rides in an envelope
    with the engine's punctuate/idle clocks; user code only ever sees its
    own dict.) ``idle_timeout_ms`` expires keys that stop receiving data:
    ``task.close`` runs, state is removed, the timer stops.
    """
    if idle_timeout_ms and not punctuate_interval_ms:
        # idle expiry needs a timer to fire on silent keys
        timer_ms = idle_timeout_ms
    else:
        timer_ms = punctuate_interval_ms
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timer_ms else GroupStateTimeout.NoTimeout
    )
    handle = _task_handler(task, punctuate_interval_ms, order_by, idle_timeout_ms, timer_ms)
    return df.groupBy(*keys).applyInPandasWithState(
        handle,
        outputStructType=output_schema,
        stateStructType="state STRING",
        outputMode="append",
        timeoutConf=timeout,
    )


def replay_worker_task(
    df: DataFrame,
    keys: list[str],
    task: WorkerTask,
    output_schema: StructType | str,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Replay a :class:`WorkerTask` over a batch DataFrame in one
    grouped-map pass (``applyInPandas``): each key's full history is one
    batch, sorted like the live handler sorts, run through ``process``
    from ``init``'s state and then ``close``. No state store and no
    timers, so ``punctuate`` never fires. ONE key-keyed shuffle."""

    def replay(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if order_by:
            pdf = pdf.sort_values(order_by)
        st = task.init(key) if task.init else {}
        outs = []
        if task.process:
            out, st = task.process(key, pdf, st)
            outs.append(out)
        if task.close:
            outs.append(task.close(key, st))
        outs = [o for o in outs if o is not None and len(o)]
        if not outs:
            # applyInPandas accepts a column-less empty frame for any schema
            return pd.DataFrame()
        return pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    return df.groupBy(*keys).applyInPandas(replay, output_schema)


def _task_handler(
    task: WorkerTask,
    punctuate_interval_ms: int | None,
    order_by: list[str] | None,
    idle_timeout_ms: int | None,
    timer_ms: int | None,
):
    """Build the applyInPandasWithState handler — split out so tests can
    drive the envelope/punctuate/idle logic directly against a fake
    GroupState (legacy-state migration and timer epochs don't need a live
    query)."""

    def handle(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        now = state.getCurrentProcessingTimeMs()
        if state.exists:
            env = json.loads(state.get[0])
            if not (isinstance(env, dict) and {"u", "p", "d"} <= env.keys()):
                # legacy checkpoint written before the state envelope: the
                # raw value IS the user dict — wrap it instead of crashing
                # on restart (ADVICE r03); clocks restart at now
                env = {"u": env if isinstance(env, dict) else {}, "p": now, "d": now}
        else:
            # the punctuate epoch starts NOW: the first interval-flush
            # fires one interval after the key appears, matching the
            # reference's punctuator (PunctuatorThread.java:34-41 — no
            # epoch-zero firing on task creation; ADVICE r03)
            env = {"u": task.init(key) if task.init else {}, "p": now, "d": None}

        def _punctuate_if_due(force: bool = False):
            nonlocal env
            if not task.punctuate or not punctuate_interval_ms:
                return None
            last = env["p"]
            if last is None:  # very old state predating the p clock
                env["p"] = now
                return None
            if force or now - last >= punctuate_interval_ms:
                out, env["u"] = task.punctuate(key, env["u"], now)
                env["p"] = now
                return out
            return None

        if state.hasTimedOut:
            if idle_timeout_ms and env["d"] is not None and now - env["d"] >= idle_timeout_ms:
                # key expired: close, emit final rows, drop state + timer
                if task.close:
                    out = task.close(key, env["u"])
                    if out is not None and len(out):
                        yield out
                state.remove()
                return
            out = _punctuate_if_due(force=True)
            if out is not None and len(out):
                yield out
            state.update((json.dumps(env),))
            if timer_ms:
                state.setTimeoutDuration(timer_ms)
            return

        # concatenate Arrow chunks before sorting: each chunk is at most
        # spark.sql.execution.arrow.maxRecordsPerBatch rows, so a per-chunk
        # sort would silently break global (e.g. per-offset) order for any
        # key group larger than one chunk
        parts = [p for p in pdfs if len(p)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            if order_by:
                pdf = pdf.sort_values(order_by)
            if task.process:
                out, env["u"] = task.process(key, pdf, env["u"])
                if out is not None and len(out):
                    yield out
        env["d"] = now
        out = _punctuate_if_due()
        if out is not None and len(out):
            yield out
        state.update((json.dumps(env),))
        if timer_ms:
            state.setTimeoutDuration(timer_ms)

    return handle
