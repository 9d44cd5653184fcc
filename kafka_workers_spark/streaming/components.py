"""Live dedup-group maintenance: fold each micro-batch of candidate
pairs into the STORED components artifact (operators/components.py —
components_write layout), so the dedup groups a 100 TB pipeline's
consumers read (survivor selection, split leakage guards, group-capped
sampling) stay current as pairs stream in, without ever re-deriving the
historical pair set.

This is the round-13 components store taken to its production
conclusion: pair generation runs incrementally (the stored band-index
ingest of ``pipeline.near_dedup_incremental`` / the RHP index of
``near_dedup_embeddings_incremental`` emit exactly such per-batch pair
deltas), and each batch folds into the labeling via
:func:`~kafka_workers_spark.operators.components.components_merge` —
star contraction makes the merge O(|nodes| + |batch pairs|) edges
converging in ~2-3 rounds, never a closure over history.

Publish, replay marker, lineage and torn-swap heal are the
replace-publish protocol of :mod:`kafka_workers_spark.store`. Unlike
merge_scd2, the components merge is REPLAY-IDEMPOTENT by construction
(edge union is commutative and idempotent, labels are a pure function
of the accumulated edge set), so the marker here only skips redundant
work and keeps the lineage contract identical across all maintenance
folds; a double-applied batch could never corrupt the labeling.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark import store
from kafka_workers_spark.operators.components import (
    components_merge,
    components_read,
    components_write,
    connected_components,
)


def components_fold(
    spark: SparkSession,
    store_dir: str,
    src: str = "doc_a",
    dst: str = "doc_b",
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The per-batch fold, exposed so tests and backfills can drive it
    directly (the scd2_fold shape): first batch closes over its own
    pairs, every later batch star-merges into the stored labeling and
    republishes the full (node, comp) mapping with one atomic swap.
    ``src``/``dst`` pass through to :func:`connected_components`.

    The published store is the components_write layout (``mapping`` +
    version-checked ``meta``) plus the store.py batch marker
    and a top-level ``_SUCCESS`` — readable by ``components_read`` like
    any other components artifact, and by :func:`read_components_store`
    which also heals torn swaps first.

    Shape at scale: the mapping is two longs per ever-paired node —
    publishing it whole per batch is O(paired nodes), the same cost
    class as the labeling itself; when the node set grows into the
    billions, the bucketed-store pattern (streaming/maintenance.py)
    applies verbatim since the mapping is key-hashed like any table."""

    def merge(batch: DataFrame, stored: DataFrame | None) -> DataFrame:
        pairs = batch.select(src, dst)
        if stored is None:
            return connected_components(pairs, src=src, dst=dst)
        return components_merge(stored, pairs, src=src, dst=dst)

    def write(merged: DataFrame, tmp: str) -> None:
        components_write(merged, tmp, mode="overwrite", fingerprint=lineage or "")
        # components_write's two inner parquet jobs each left their own
        # _SUCCESS; the store-level one goes on only after both exist
        store.mark_complete(tmp)

    return store.replace_fold(
        spark,
        store_dir,
        lineage,
        merge,
        read=lambda d: components_read(spark, d),
        write=write,
    )


def read_components_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read the live (node, comp) mapping of a streaming components
    store — heals a torn swap first (the read_bucketed_store rule: the
    heal must run before anything trusts the directory), then defers to
    ``components_read``'s version check."""
    store.heal(store_dir)
    return components_read(spark, store_dir)


def streaming_components_maintenance(
    pairs: DataFrame,
    store_dir: str,
    checkpoint: str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> StreamingQuery:
    """Run the components store live: every micro-batch of candidate
    pairs folds into ``store_dir``; restarting from the same checkpoint
    resumes exactly where it stopped; a DIFFERENT checkpoint pointed at
    the same store fails loudly at the first batch (the lineage
    contract all maintenance folds share)."""
    return store.live_fold(pairs, checkpoint, components_fold, store_dir, src=src, dst=dst)
