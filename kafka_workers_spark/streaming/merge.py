"""Time-aware ordered merge of paired streams (the reference's hardest
semantic, SURVEY.md §7 step 4), generalized to N-way feeds.

Reference: the Merger pattern — pause the faster of two paired streams
until the slower one catches up, so paired partitions emit in global
timestamp order
(/root/reference/src/test/java/com/rtbhouse/kafka/workers/integration/
MergerTest.java:136-201; accept() at :152-162 releases a record only when
the sibling partition's last-seen timestamp >= its own; motivation
README.md:22).

Release rule (equivalent formulation): a record with timestamp t in pair
group g may be emitted iff t <= min over sides of max(seen ts) in g —
the "low watermark" of the pair. The tail above the slower side's frontier
stays buffered (reference: stays queued in the paused sub-partition).

Two implementations:

- :func:`merge_ordered` (batch/micro-batch): pure DataFrame ops — compute
  each side's frontier per group (one partial-agg shuffle on small state),
  broadcast-join the frontiers back, filter ts <= frontier, sort within
  group. No Python, no per-key loop; at 100 TB the frontier table is tiny
  (one row per pair group) and broadcasts.

- :func:`merge_ordered_stream` (Structured Streaming): per-group buffered
  state via applyInPandasWithState — rows accumulate in state until the
  group's low watermark passes them, then emit in ts order. Matches the
  reference's incremental pause/resume behavior; buffering is bounded by
  stream skew exactly as the reference's queues are.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def merge_ordered(
    left: DataFrame,
    right: DataFrame,
    group: str,
    ts: str,
    side_col: str = "side",
) -> DataFrame:
    """Batch ordered merge of a stream PAIR — the reference's exact shape;
    see :func:`merge_ordered_many` for the N-way generalization this
    delegates to. Union both sides, release rows up to the pair's
    low watermark min(max_left_ts, max_right_ts) per group.

    Returns the released ROW SET with a ``side`` tag; physical row order
    is not part of the batch contract (Spark output order is
    partition-dependent) — consumers needing the merged order sort by
    (ts, side), which reproduces the reference's golden sequence
    (MergerTest.java:118: ties emit the earlier-seen side; the side tag is
    the deterministic tiebreak). The streaming form emits in that order
    per batch by construction.

    Scan shape (audited in ``tests/test_merge.py``): the union is
    consumed twice (frontier aggregate + release join), but the frontier
    subtree's scan is column-pruned to (group, side, ts) and its shuffle
    is a tiny partial aggregate; the broadcast join never shuffles the
    payload, so the "second scan" reads three narrow columns.
    """
    return merge_ordered_many({"left": left, "right": right}, group, ts, side_col=side_col)


def merge_ordered_many(
    streams: dict[str, DataFrame],
    group: str,
    ts: str,
    side_col: str = "side",
) -> DataFrame:
    """N-way batch ordered merge: release rows up to the group's low
    watermark ``min over sides of max(seen ts)``, with EVERY side's
    frontier known (a side with no rows — or all-NULL timestamps — holds
    the whole group back, the reference's accept()-while-sibling-unknown
    rule generalized from 2 to N feeds). ``streams`` maps side name →
    DataFrame; all sides must share a schema. Same scan shape and
    release semantics as :func:`merge_ordered` (its docstring is the
    contract); frontier state is one row per (group, side) — tiny at any
    scale — and the payload is never shuffled.
    """
    if len(streams) < 2:
        raise ValueError(f"merge needs >= 2 streams, got {list(streams)}")
    tagged = [df.withColumn(side_col, F.lit(name)) for name, df in streams.items()]
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t)
    n_sides = len(streams)
    frontiers = (
        unioned.groupBy(group, side_col)
        .agg(F.max(ts).alias("__max_ts"))
        .groupBy(group)
        # count NON-NULL frontiers: a side whose ts values are all NULL has
        # an unknown frontier (max ignores nulls) and must buffer its
        # siblings, exactly like a side with no rows — matching the
        # reference's accept() while timestamps.get(otherPartition) == null
        .agg(F.min("__max_ts").alias("__low_watermark"), F.count("__max_ts").alias("__n_sides"))
    )
    released = (
        unioned.join(F.broadcast(frontiers), group)
        # a group missing any side's frontier stays fully buffered
        .filter((F.col("__n_sides") >= n_sides) & (F.col(ts) <= F.col("__low_watermark")))
        .drop("__low_watermark", "__n_sides")
        # join(group) moves the group column first; restore the union's
        # column order (positional consumers: union by position, insertInto)
        .select(*unioned.columns)
    )
    return released


def merge_ordered_stream(
    left: DataFrame,
    right: DataFrame,
    group: str,
    ts: str,
    output_schema: str,
    side_col: str = "side",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming ordered merge with per-group buffering.

    State per group: {"buf": [{side, ts, payload...} ...], "max": {side: ts}}.
    Each micro-batch: fold new rows into the buffer, advance each side's
    frontier to max(seen), emit buffered rows with ts <= min(frontiers)
    in (ts, side) order, keep the rest buffered.

    TTL semantics (divergence from the reference, which keeps paused
    records queued indefinitely — README.md:22): when ``state_ttl_ms``
    expires, the remaining buffer is FLUSHED in (ts, side) order rather
    than dropped, so the path stays at-least-once; ordering relative to a
    sibling that never arrived is necessarily violated (there is nothing
    to order against).

    ``output_schema`` must name the group column, ``side``, ``ts`` and
    every payload column of the inputs — applyInPandasWithState assigns
    output struct fields BY NAME, so the declaration order in the schema
    string is free (the conventional shape is "<group>, side, <ts>,
    payload..."). Every non-group column (the full record, like the
    reference's queued WorkerRecords) rides through the buffer; payload
    values must be JSON-serializable (numbers/strings/bools — decode
    binary/timestamp columns to primitives before the merge).
    """
    return merge_ordered_stream_many(
        {"left": left, "right": right},
        group,
        ts,
        output_schema,
        side_col=side_col,
        state_ttl_ms=state_ttl_ms,
    )


def _emit(group: str, cols: list[str], key: tuple, recs: list[dict]) -> pd.DataFrame:
    # module-level, so the pickled handler references this module and a
    # Python worker that unpickles it imports the package (whose __init__
    # installs session._install_zip_stat_check)
    return pd.DataFrame({group: [key[0]] * len(recs), **{c: [r[c] for r in recs] for c in cols}})


def _merge_handler(
    group: str,
    ts: str,
    cols: list[str],
    side_col: str,
    n_sides: int,
    state_ttl_ms: int | None,
):
    """The per-group stateful merge function, module-level so tests can
    drive it directly against a reference model (the same harness shape
    as gate._gate_handler): buffer every arrival, advance each side's
    frontier to max(seen), and once ALL ``n_sides`` frontiers are known
    emit buffered rows with ts <= min(frontiers) in (ts, side) order."""

    def handle(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = json.loads(state.get[0])
        else:
            st = {"buf": [], "max": {}}
        if state.hasTimedOut:
            # flush (not drop) the unreleased tail — at-least-once on TTL
            leftovers = sorted(st["buf"], key=lambda r: (r[ts], r[side_col]))
            state.remove()
            if leftovers:
                yield _emit(group, cols, key, leftovers)
            return
        for pdf in pdfs:
            # to_dict keeps arbitrary column names (itertuples mangles
            # non-identifier names like "user-agent" into _N positions)
            for raw in pdf[cols].to_dict("records"):
                rec = {
                    c: (v.item() if hasattr(v, "item") else v) for c, v in raw.items()
                }
                rec[ts] = int(rec[ts])
                st["buf"].append(rec)
                side = rec[side_col]
                st["max"][side] = max(st["max"].get(side, rec[ts]), rec[ts])
        if len(st["max"]) >= n_sides:
            low = min(st["max"].values())
            ready = sorted(
                [r for r in st["buf"] if r[ts] <= low], key=lambda r: (r[ts], r[side_col])
            )
            st["buf"] = [r for r in st["buf"] if r[ts] > low]
            if ready:
                yield _emit(group, cols, key, ready)
        state.update((json.dumps(st),))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)

    return handle


def merge_ordered_stream_many(
    streams: dict[str, DataFrame],
    group: str,
    ts: str,
    output_schema: str,
    side_col: str = "side",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """N-way streaming ordered merge — :func:`merge_ordered_stream`'s
    semantics (its docstring is the contract) generalized to any number
    of named feeds: a group's rows release only once EVERY side's
    frontier is known, up to the minimum frontier, in (ts, side) order.
    """
    if len(streams) < 2:
        raise ValueError(f"merge needs >= 2 streams, got {list(streams)}")
    n_sides = len(streams)
    tagged = [df.withColumn(side_col, F.lit(name)) for name, df in streams.items()]
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t)
    cols = [c for c in unioned.columns if c != group]  # side, ts, payload...
    handle = _merge_handler(group, ts, cols, side_col, n_sides, state_ttl_ms)
    timeout = GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms else GroupStateTimeout.NoTimeout
    return unioned.groupBy(group).applyInPandasWithState(
        handle,
        outputStructType=output_schema,
        stateStructType="state STRING",
        outputMode="append",
        timeoutConf=timeout,
    )
