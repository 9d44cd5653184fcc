"""Streaming last-touch attribution: the second per-key WorkerTask state
machine of the event-analytics pair (the first is streaming/funnel.py —
both are the reference's per-sub-partition stateful task model,
/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/task/
WorkerTask.java:11-70, applied to event analytics).

State per user is ONE timestamp — the latest touch (click) seen — so a
conversion (purchase) attributes immediately on the data path with no
idle timers at all: emit ``(user, event_id, ts, touch_ts, attribution)``
where ``attribution`` is 'click' iff the touch is within the lookback
window, else 'organic'. Identical to the batch as-of plan
(``events_attribution``: as-of join == correlated MAX, the genuine
cross-plan pairing) PROVIDED per-user events arrive in nondecreasing ts
order across micro-batches (the per-partition offset-order guarantee;
within one batch the engine sorts by ts). Ties: a click at the purchase
instant counts (merge_asof allow_exact_matches semantics — searchsorted
side='right').

Per-batch work is vectorized: one ``np.searchsorted`` of purchase
timestamps into the batch's sorted click timestamps; the carried state
timestamp covers purchases before the batch's first click.

At 100 TB: one long per ACTIVE user in the state store; output volume is
the conversion stream, not the touch stream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from kafka_workers_spark.streaming.stateful import WorkerTask, apply_worker_task, replay_worker_task


def attribution_worker_task(
    touch_type: str = "click",
    convert_type: str = "purchase",
    lookback_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> WorkerTask:
    if lookback_seconds <= 0:
        raise ValueError(f"lookback_seconds ({lookback_seconds}) must be positive")
    look_us = lookback_seconds * 1_000_000

    def process(key, pdf, st):
        ts = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        et = pdf[type_col].to_numpy()
        click_ts = ts[et == touch_type]
        pmask = et == convert_type
        out = None
        if pmask.any():
            p_ts = ts[pmask]
            # last batch click at-or-before each purchase; purchases
            # before the batch's first click fall back to carried state
            prev = st.get("lt")
            # No-touch sentinel: int64 min (outside any representable
            # timestamp), so pre-epoch (negative-micros) clicks are real
            # touches and can't collide with "no touch" (ADVICE r09).
            no_touch = np.iinfo(np.int64).min
            fallback = np.int64(prev) if prev is not None else np.int64(no_touch)
            if len(click_ts):
                idx = np.searchsorted(click_ts, p_ts, side="right") - 1
                touch = np.where(idx >= 0, click_ts[idx.clip(min=0)], fallback)
            else:
                touch = np.full(len(p_ts), fallback)
            has = touch != no_touch
            out = pd.DataFrame(
                {
                    user_col: np.repeat(key[0], int(pmask.sum())),
                    id_col: pdf[id_col].to_numpy()[pmask],
                    ts_col: pd.to_datetime(p_ts, unit="us"),
                    "touch_ts": pd.to_datetime(
                        np.where(has, touch, 0), unit="us"
                    ).where(has, pd.NaT),
                    "attribution": np.where(
                        has & (touch >= p_ts - look_us), touch_type, "organic"
                    ),
                }
            )
        if len(click_ts):
            prev = st.get("lt")
            latest = int(click_ts[-1])  # caller sorts by ts: last is max
            st = {"lt": latest if prev is None else max(latest, prev)}
        return out, st

    return WorkerTask(process=process)


def _out_schema(events: DataFrame, user_col: str, id_col: str, ts_col: str) -> str:
    user_t = events.schema[user_col].dataType.simpleString()
    id_t = events.schema[id_col].dataType.simpleString()
    return (
        f"{user_col} {user_t}, {id_col} {id_t}, {ts_col} timestamp, "
        "touch_ts timestamp, attribution string"
    )


def streaming_attribution(
    events: DataFrame,
    touch_type: str = "click",
    convert_type: str = "purchase",
    lookback_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming last-touch attribution over an event stream via
    ``apply_worker_task``. Conversions emit on the data path — no
    timer is needed to produce output — but pass ``idle_timeout_ms``
    on long-lived queries with unbounded user churn so silent users'
    one-timestamp state rows expire instead of accumulating forever
    (an expired user's next touch simply restarts their state)."""
    task = attribution_worker_task(
        touch_type, convert_type, lookback_seconds, user_col, ts_col, type_col, id_col
    )
    return apply_worker_task(
        events.select(user_col, ts_col, type_col, id_col),
        [user_col],
        task,
        _out_schema(events, user_col, id_col, ts_col),
        order_by=[ts_col],
        idle_timeout_ms=idle_timeout_ms,
    )


def attribution_tasks_batch(
    events: DataFrame,
    touch_type: str = "click",
    convert_type: str = "purchase",
    lookback_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """The same task replayed over full history in one grouped-map pass
    (``applyInPandas``) — equals the as-of/correlated-MAX attribution on
    any input (the group holds the whole history). ONE user-keyed
    shuffle; per-group work is one sort + one searchsorted."""
    task = attribution_worker_task(
        touch_type, convert_type, lookback_seconds, user_col, ts_col, type_col, id_col
    )
    return replay_worker_task(
        events.select(user_col, ts_col, type_col, id_col),
        [user_col],
        task,
        _out_schema(events, user_col, id_col, ts_col),
        order_by=[ts_col],
    )
