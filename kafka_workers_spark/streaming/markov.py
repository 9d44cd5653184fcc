"""Streaming next-event transition extraction: the third per-key
WorkerTask state machine of the event-analytics family (with
streaming/funnel.py and streaming/attribution.py — all three are the
reference's per-sub-partition stateful task model,
/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/task/
WorkerTask.java:11-70, applied to event analytics).

State per user is ONE string — the last event_type seen — so every
event emits its (prev → next) transition on the data path with no
timers: the first event of a user (or of a restarted/expired user)
emits nothing and primes the state. Aggregating the transition stream
by (prev, next) reproduces the batch
:func:`kafka_workers_spark.operators.relational.markov_transitions`
matrix EXACTLY, provided per-user events arrive in nondecreasing
(ts, tiebreak) order across micro-batches (the per-partition
offset-order guarantee; within one batch the engine sorts).

At 100 TB: one short string per ACTIVE user in the state store; output
volume equals the event stream (each event yields at most one
transition row).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from kafka_workers_spark.streaming.stateful import WorkerTask, apply_worker_task, replay_worker_task


def markov_worker_task(
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> WorkerTask:
    def process(key, pdf, st):
        if len(pdf) == 0:
            return None, st
        et = pdf[type_col].tolist()
        prev = [st.get("last")] + et[:-1]
        mask = [p is not None for p in prev]
        out = None
        if any(mask):
            out = pd.DataFrame(
                {
                    user_col: [key[0]] * sum(mask),
                    id_col: pdf[id_col].to_numpy()[mask],
                    ts_col: pdf[ts_col].to_numpy()[mask],
                    "prev_state": [p for p, m in zip(prev, mask) if m],
                    "next_state": [n for n, m in zip(et, mask) if m],
                }
            )
        return out, {"last": et[-1]}

    return WorkerTask(process=process)


def _out_schema(events: DataFrame, user_col: str, id_col: str, ts_col: str) -> str:
    # every passthrough column derives its type from the input — nothing
    # here needs ts to BE a timestamp (an epoch-long ts orders just as
    # well), so hardcoding `timestamp` would break that caller at the
    # Arrow conversion (review r12)
    user_t = events.schema[user_col].dataType.simpleString()
    id_t = events.schema[id_col].dataType.simpleString()
    ts_t = events.schema[ts_col].dataType.simpleString()
    return (
        f"{user_col} {user_t}, {id_col} {id_t}, {ts_col} {ts_t}, "
        "prev_state string, next_state string"
    )


def streaming_markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """The live transition stream via ``apply_worker_task``: one row per
    event that HAS a predecessor. ``idle_timeout_ms`` expires silent
    users' one-string state on long-lived queries (an expired user's
    next event primes a fresh chain — i.e. emits no transition)."""
    task = markov_worker_task(user_col, ts_col, type_col, id_col)
    return apply_worker_task(
        events.select(user_col, ts_col, type_col, id_col),
        [user_col],
        task,
        _out_schema(events, user_col, id_col, ts_col),
        order_by=[ts_col, id_col],
        idle_timeout_ms=idle_timeout_ms,
    )


def markov_tasks_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """The same task replayed over full history in one grouped-map pass
    (``applyInPandas``) — the batch entry the cross-plan oracle drives:
    aggregating its transitions reproduces the relational
    ``markov_transitions`` matrix bit for bit. ONE user-keyed shuffle;
    per-group work is a sort and a shift."""
    task = markov_worker_task(user_col, ts_col, type_col, id_col)
    return replay_worker_task(
        events.select(user_col, ts_col, type_col, id_col),
        [user_col],
        task,
        _out_schema(events, user_col, id_col, ts_col),
        order_by=[ts_col, id_col],
    )
