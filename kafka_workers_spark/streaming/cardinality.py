"""Live distinct-count maintenance: fold each micro-batch into a STORED
per-key KMV sketch table, so "distinct users per (event_type, day)" —
the dashboard counter every ingest pipeline keeps — answers from a
key-sized artifact instead of a re-scan of raw history. This completes
the promise in ``functions.sketches.incremental_distinct_rollup``'s
docstring ("the store-this shape"): the batch rollup existed, but
nothing maintained it across a stream of arriving events.

KMV is the right payload for a maintained store, and HLL is not,
because the maintenance discipline here pins BIT-EXACT equalities:
``kmv_merge`` is exactly mergeable (bottom-k of a union == bottom-k of
the union of bottom-ks — Beyer et al., SIGMOD 2007), so the folded
store after any batch split, restart, or replay equals the one-shot
``kmv_build`` over all events ever landed, hash-for-hash; the hex-
string hashes are engine-replayable (the corpus_kmv_vocab oracle runs
the identical bottom-k in DuckDB), and the ``(k-1)/U_(k)`` estimate is
two IEEE ops over an exactly-converted 52-bit integer. HLL's register
binary is merge-order-sensitive across its sparse/dense mode boundary,
which would reduce every pin to "estimates roughly agree" — the
maintenance folds pin equality, not plausibility.

Publish, replay marker, lineage and torn-swap heal are the
replace-publish protocol of :mod:`kafka_workers_spark.store`. Like the
components merge — and unlike merge_scd2 — the KMV fold is
replay-IDEMPOTENT by construction (set union is idempotent), so the
marker only skips redundant work; a mixed-``k`` fold into an existing
store raises in-plan (kmv_merge's guard), the blocking-parameter
discipline of the dedup band index. Reference analog: the accumulated
per-sensor counters that survive across punctuations
(impl/metrics/WorkersMetrics.java) — monotone state folded per record
batch, never recomputed from history.

At 100 TB: per batch the store costs one hash aggregate over the
batch's (key, value) pairs plus a key-sized merge+publish — O(keys ·
k) hex strings (k=256 ⇒ ~3 KB/key), independent of event volume; a
year of per-day keys is MBs. When the key set itself grows into the
hundreds of millions, the bucketed-store pattern
(streaming/maintenance.py) applies verbatim since the sketch table is
key-hashed like any table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark import store
from kafka_workers_spark.functions.sketches import kmv_build, kmv_merge
from kafka_workers_spark.streaming.sketch_store import (
    read_sketch_store,
    sketch_store_fold,
)


def cardinality_fold(
    spark: SparkSession,
    store_dir: str,
    partition_cols: list[str],
    value_col: str,
    k: int = 256,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The per-batch fold, exposed for tests/backfills like every
    maintenance fold: sketch the batch per key (``kmv_build`` — the
    batch-local bottom-k), union with the stored sketch rows, re-take
    the bottom k per key (``kmv_merge``, exact), and republish the full
    sketch table with one atomic swap. Keys absent from the batch pass
    through untouched; keys new in the batch enter with their batch
    sketch. Implemented on the generic :func:`~kafka_workers_spark.
    streaming.sketch_store.sketch_store_fold` — KMV is one instance of
    the exactly-mergeable-sketch maintenance contract, alongside the
    HDR quantile and CMS frequency stores. Store layout: parquet
    ``(*partition_cols, hashes, n_distinct_capped, k)`` + the
    store.py batch marker."""
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    # mixed k (a fold with different params than the store was built
    # with) raises inside kmv_merge before anything lands
    return sketch_store_fold(
        spark,
        store_dir,
        build=lambda df: kmv_build(df, value_col, k=k, group_cols=partition_cols),
        merge=lambda df: kmv_merge(df, group_cols=partition_cols),
        lineage=lineage,
    )


def read_cardinality_store(
    spark: SparkSession, store_dir: str, k: int | None = None
) -> DataFrame:
    """Read the live sketch table — heals a torn swap first (the
    read_bucketed_store rule), optionally attaching the distinct-count
    estimate column when the caller states the expected ``k`` (validated
    in-plan against the stored rows by ``kmv_distinct_estimate``'s
    saturation arithmetic; a mismatched k raises on the next fold)."""
    df = read_sketch_store(spark, store_dir)
    if k is not None:
        from kafka_workers_spark.functions.sketches import kmv_distinct_estimate

        df = df.select(
            "*", kmv_distinct_estimate("hashes", k).alias("est_distinct")
        )
    return df


def streaming_cardinality_maintenance(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    partition_cols: list[str],
    value_col: str,
    k: int = 256,
) -> StreamingQuery:
    """Run the distinct-count store live: every micro-batch folds its
    per-key bottom-k into ``store_dir``; restart from the same
    checkpoint resumes exactly; a different checkpoint pointed at the
    same store fails loudly at the first batch (the lineage contract
    all maintenance folds share)."""
    return store.live_fold(
        events, checkpoint, cardinality_fold, store_dir, partition_cols, value_col, k=k
    )
