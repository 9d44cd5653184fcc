"""The maintenance contract generalized over every EXACTLY-mergeable
sketch: one generic per-batch fold (an instance of
:func:`kafka_workers_spark.store.replace_fold`) parameterized by the
sketch family's ``build`` and ``merge``, plus the instances the
cardinality store (KMV, streaming/cardinality.py) left on the table:

- :func:`histogram_fold` — per-key HDR quantile sketches
  (functions.sketches.hdr_build/hdr_merge): the live latency/size
  distribution store. "p99 tokens-per-document per source, over
  everything ever ingested" answers from a key-sized array table.
- :func:`counts_fold` — per-key count-min frequency sketches
  (cms_build/cms_merge): the live heavy-hitter store. "how often has
  this n-gram/user/url appeared, ever" answers from one broadcast row
  per key.
- :func:`membership_fold` — Bloom filters (bloom_build/bloom_merge):
  the live seen-before store, completing the quartet (distinct-count /
  quantile / frequency / membership) under one contract.

Why these families and not HLL: the maintenance discipline pins BIT-EXACT
equalities — the folded store after any batch split, restart, or replay
must equal the one-shot build over all events ever landed. KMV bottom-k,
HDR cell sums, and CMS cell sums are exactly mergeable (merge of
partials == whole-pass build, element for element), so the pin is an
equality, not a tolerance (Bloom's bitwise OR likewise). A sketch
whose merge is representation-order-sensitive would reduce every pin to
"estimates roughly agree", which is not a maintenance contract.

Publish, replay marker, lineage and torn-swap heal are the
replace-publish protocol of :mod:`kafka_workers_spark.store`; a fold
whose sketch scheme differs from the store's stamped rows raises
in-plan (each family's mixed-scheme guard). The marker is load-bearing
for HDR/CMS: cell addition double-applied WOULD corrupt, the merge_scd2
class, and the replay test pins that (Bloom's OR and KMV's union are
idempotent, so there it only skips redundant work).

At 100 TB: per batch each store costs one hash aggregate over the
batch (map-side partial, the shuffle carries sketch cells, never raw
values) plus a key-sized merge+publish — HDR ≈ 9 KB/key, CMS ≈
64 KB/key at defaults, independent of event volume. When the key set
grows into the hundreds of millions, the bucketed-store pattern
(streaming/maintenance.py) applies verbatim.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark import store


def sketch_store_fold(
    spark: SparkSession,
    store_dir: str,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The generic per-batch sketch fold: sketch the batch (``build``),
    union with the stored rows and re-merge per key (``merge`` — must be
    the family's exact merge, so folded == one-shot), republish with one
    atomic swap. ``merge`` receives the UNION of stored and fresh rows
    (same schema: every family's merge output equals its build output
    by the merge-exactness contract). Keys absent from the batch pass
    through; new keys enter with their batch sketch."""

    def fold_in(batch: DataFrame, stored: DataFrame | None) -> DataFrame:
        fresh = build(batch)
        if stored is None:
            return fresh
        return merge(stored.select(*fresh.columns).unionByName(fresh))

    return store.replace_fold(spark, store_dir, lineage, fold_in)


def read_sketch_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read any live sketch table — heals a torn swap first (the
    read_bucketed_store rule). Family-specific consumers layer their
    probe/quantile expressions on top."""
    store.heal(store_dir)
    return spark.read.parquet(store_dir)


# ---------------------------------------------------------------------------
# HDR quantile store (latency/size distributions, live)
# ---------------------------------------------------------------------------


def histogram_fold(
    spark: SparkSession,
    store_dir: str,
    partition_cols: list[str],
    value_col: str,
    sig_bits: int = 5,
    max_bits: int = 40,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Per-key HDR histogram maintenance: each batch's values bucket
    into one codegen'd hash aggregate and the cell counts ADD into the
    stored arrays (hdr_merge — exact), so any quantile of everything
    ever ingested reads from the store at relative error ≤ 2^-sig_bits.
    A fold under a different (sig_bits, max_bits) than the store's
    stamped scheme columns raises in-plan (hdr_merge's guard)."""
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    from kafka_workers_spark.functions.sketches import hdr_build, hdr_merge

    return sketch_store_fold(
        spark,
        store_dir,
        build=lambda df: hdr_build(
            df, value_col, sig_bits=sig_bits, max_bits=max_bits,
            group_cols=partition_cols,
        ),
        merge=lambda df: hdr_merge(df, group_cols=partition_cols),
        lineage=lineage,
    )


def read_histogram_store(
    spark: SparkSession,
    store_dir: str,
    qs: list[float] | None = None,
    sig_bits: int = 5,
) -> DataFrame:
    """Read the live histogram table, optionally attaching ``n_values``
    and the ``quantiles`` array for ``qs`` (row-local walk over the
    counts array; hdr_quantiles raises in-plan if ``sig_bits`` does not
    match the stored scheme)."""
    df = read_sketch_store(spark, store_dir)
    if qs is not None:
        from kafka_workers_spark.functions.sketches import hdr_quantiles

        df = hdr_quantiles(df, qs, sig_bits=sig_bits)
    return df


def streaming_histogram_maintenance(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    partition_cols: list[str],
    value_col: str,
    sig_bits: int = 5,
    max_bits: int = 40,
) -> StreamingQuery:
    """Run the histogram store live (the streaming_cardinality_
    maintenance shape): restart from the same checkpoint resumes
    exactly; a different checkpoint pointed at the store fails loudly."""
    return store.live_fold(
        events,
        checkpoint,
        histogram_fold,
        store_dir,
        partition_cols,
        value_col,
        sig_bits=sig_bits,
        max_bits=max_bits,
    )


# ---------------------------------------------------------------------------
# CMS frequency store (heavy hitters, live)
# ---------------------------------------------------------------------------


def counts_fold(
    spark: SparkSession,
    store_dir: str,
    value_col: str,
    width: int = 2048,
    depth: int = 4,
    partition_cols: list[str] | None = None,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Per-key count-min frequency maintenance: batch cell counts ADD
    into the stored arrays (cms_merge — exact), so "how often has this
    value appeared, ever" answers from one broadcast sketch row per key
    via cms_probe, with the classic one-sided overestimate bound. A
    global (key-less) store is ``partition_cols=None`` — one sketch row
    total, the decontamination-filter shape."""
    from kafka_workers_spark.functions.sketches import cms_build, cms_merge

    group = list(partition_cols or [])
    return sketch_store_fold(
        spark,
        store_dir,
        build=lambda df: cms_build(
            df, value_col, width=width, depth=depth, group_cols=group
        ),
        merge=lambda df: cms_merge(df, group_cols=group),
        lineage=lineage,
    )


def streaming_counts_maintenance(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    value_col: str,
    width: int = 2048,
    depth: int = 4,
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """Run the frequency store live; same lineage contract as every
    maintenance fold."""
    return store.live_fold(
        events,
        checkpoint,
        counts_fold,
        store_dir,
        value_col,
        width=width,
        depth=depth,
        partition_cols=partition_cols,
    )


# ---------------------------------------------------------------------------
# Bloom membership store (seen-before filters, live)
# ---------------------------------------------------------------------------


def membership_fold(
    spark: SparkSession,
    store_dir: str,
    value_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    partition_cols: list[str] | None = None,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Per-key Bloom membership maintenance — the fourth instance,
    completing the sketch quartet under one contract (distinct-count /
    quantile / frequency / MEMBERSHIP): batch filters OR into the
    stored word arrays (bloom_merge — bitwise, lossless), so "have we
    ever seen this url/digest/user" answers from a fixed-size filter
    with the one-sided guarantee (present values NEVER false-negative —
    folding can only set bits, so the guarantee is monotone across
    batches). OR is idempotent, so like the set-union folds the marker
    is belt-and-suspenders here; a fold under a different
    (n_bits, n_hashes) raises up front (bloom_merge's scheme check).
    The cross-run URL-dedup / decontamination-filter shape, maintained
    live instead of rebuilt per run."""
    from kafka_workers_spark.functions.sketches import bloom_build, bloom_merge

    group = list(partition_cols or [])
    return sketch_store_fold(
        spark,
        store_dir,
        build=lambda df: bloom_build(
            df, value_col, n_bits=n_bits, n_hashes=n_hashes, group_cols=group
        ),
        merge=lambda df: bloom_merge(df, group_cols=group),
        lineage=lineage,
    )


def streaming_membership_maintenance(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    value_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """Run the membership store live; same lineage contract as every
    maintenance fold."""
    return store.live_fold(
        events,
        checkpoint,
        membership_fold,
        store_dir,
        value_col,
        n_bits=n_bits,
        n_hashes=n_hashes,
        partition_cols=partition_cols,
    )
