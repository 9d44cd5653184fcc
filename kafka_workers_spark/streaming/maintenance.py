"""Live warehouse maintenance: fold each micro-batch through the
incremental SCD1/SCD2 merges into a stored history table.

This is the nightly-merge shape a real user runs continuously
(VERDICT r09 #3): the stream lands observation batches, ``foreachBatch``
folds each one through :func:`kafka_workers_spark.pipeline.merge_scd2`
(or :func:`merge_upsert`) against the stored table, and republishes
it. The end state is pinned equal to the ONE-SHOT build over the full
stream — the same persistence-equivalence contract the KMV rollup,
BM25 store, and posindex rows carry.

Publish, replay marker, lineage and torn-swap heal are the
replace-publish protocol of :mod:`kafka_workers_spark.store`. The
marker is load-bearing here: ``merge_upsert`` is naturally idempotent
under replay (max-wins), but ``merge_scd2`` is NOT — replaying
observations older than the open version's ``valid_from`` would
re-detect historical changes and duplicate closed rows.

Batch-ordering contract (inherited from ``merge_scd2``): observation
timestamps must be non-decreasing per key ACROSS batches — a file/Kafka
source replaying history in event order satisfies this; late
observations need a history rewrite and must be rejected upstream.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark import store
from kafka_workers_spark.pipeline import merge_scd2, merge_upsert, scd2_history


def _scd2_merge(
    key_cols: list[str], ts_col: str, payload_cols: list[str], tiebreak_col: str
) -> Callable[[DataFrame, DataFrame | None], DataFrame]:
    def merge(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        if base is None:
            # empty history with the output schema (limit(0) plans no job)
            base = scd2_history(
                batch.limit(0), key_cols, ts_col, payload_cols, tiebreak_col
            )
        return merge_scd2(base, batch, key_cols, ts_col, payload_cols, tiebreak_col)

    return merge


def _upsert_merge(
    key_cols: list[str], version_col: str
) -> Callable[[DataFrame, DataFrame | None], DataFrame]:
    def merge(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        base = batch.limit(0) if base is None else base
        return merge_upsert(base, batch, key_cols, version_col)

    return merge


def scd2_fold(
    spark: SparkSession,
    store_dir: str,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The per-batch fold, exposed so tests (and backfills) can drive it
    directly: read the stored history (empty on first batch), fold the
    observation batch in with ``merge_scd2``, publish via the atomic
    swap. Replayed batch ids are no-ops — WITHIN one ``lineage``
    (checkpoint identity); a fold under a different lineage than the
    store's marker raises instead of silently skipping (see
    :func:`kafka_workers_spark.store.last_applied`). Direct driving
    (``lineage=None``) is its own lineage: a store built by direct folds
    rejects a later streaming query and vice versa."""
    merge = _scd2_merge(key_cols, ts_col, payload_cols, tiebreak_col)
    return store.replace_fold(spark, store_dir, lineage, merge)


def upsert_fold(
    spark: SparkSession,
    store_dir: str,
    key_cols: list[str],
    version_col: str,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """SCD1 latest-wins fold (``merge_upsert``). The merge itself is
    idempotent under replay (max-wins), so the batch-id guard here only
    skips redundant work; for SCD2 it is load-bearing. The lineage
    stamp still applies: a fresh checkpoint over an existing store fails
    loudly rather than skipping batches — harmless for upsert's
    idempotent merge but the marker would record a lie, and the
    symmetric rule keeps the two folds' contracts identical."""
    merge = _upsert_merge(key_cols, version_col)
    return store.replace_fold(spark, store_dir, lineage, merge)


# ---------------------------------------------------------------------------
# Bucketed incremental publish (VERDICT r10 #5 / r11 #6)
# ---------------------------------------------------------------------------
#
# The whole-store publish above rewrites the ENTIRE table every
# micro-batch — O(table) I/O per batch, quadratic total I/O for a
# long-running continuous stream. The bucketed store hash-partitions the
# table by key into a fixed number of buckets (directories
# ``store/b=NNNNN``), and each fold rewrites ONLY the buckets the batch
# touches: per-batch I/O is O(touched buckets), which for a trickle
# stream is O(batch), not O(table). Every bucket carries its OWN
# batch marker and is published by its own atomic swap (the store.py
# heal/marker/swap, per bucket), so a crash between bucket
# swaps leaves a store where SOME buckets already carry the batch — the
# replay recomputes the pending set per bucket and re-merges only those,
# which is what makes the non-idempotent SCD2 merge exactly-once per
# BUCKET rather than per store. The bucket count is fixed at store
# creation (``_kw_store`` meta, validated on every fold): re-bucketing
# scatters keys and needs a rebuild.

_STORE_META = "_kw_store"


def _bucket_dir(store_dir: str, b: int) -> str:
    return os.path.join(store_dir, f"b={b:05d}")


def _ensure_store_meta(store_dir: str, n_buckets: int, key_cols: list[str]) -> None:
    """Create-or-validate the bucketed store's meta: the bucket count and
    key columns are fixed at creation (hash placement depends on both)."""
    os.makedirs(store_dir, exist_ok=True)
    path = os.path.join(store_dir, _STORE_META)
    meta = store.read_json(path)
    if meta is None:
        store.write_json(path, {"n_buckets": n_buckets, "key_cols": key_cols})
    elif meta["n_buckets"] != n_buckets or meta["key_cols"] != key_cols:
        raise RuntimeError(
            f"bucketed store {store_dir!r} was created with "
            f"n_buckets={meta['n_buckets']}, key_cols={meta['key_cols']} "
            f"but this fold uses n_buckets={n_buckets}, "
            f"key_cols={key_cols}; hash placement depends on both — "
            "rebuild the store to re-bucket."
        )


def read_bucketed_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read the live contents of a bucketed maintenance store (union of
    all published buckets). Raises if the directory is not a bucketed
    store; an existing store with no published buckets yet has no
    readable schema, so that also raises (fold at least one batch
    first). Readers racing a bucket swap inherit the swap_output
    transient-ENOENT caveat, per bucket. Bucket names are matched
    EXACTLY (``b=`` + digits): a stale backup left by a crash between
    the swap's publish and reap steps must never be read as a second
    copy of the bucket (review r12) — it is healed here instead."""
    import re

    if not os.path.exists(os.path.join(store_dir, _STORE_META)):
        raise RuntimeError(f"{store_dir!r} is not a bucketed maintenance store")
    store.heal_children(store_dir)
    dirs = sorted(
        os.path.join(store_dir, d)
        for d in os.listdir(store_dir)
        if re.fullmatch(r"b=\d+", d) and store.published(os.path.join(store_dir, d))
    )
    if not dirs:
        raise RuntimeError(f"bucketed store {store_dir!r} has no published buckets")
    return spark.read.parquet(*dirs)


def _bucketed_fold(
    spark: SparkSession,
    store_dir: str,
    key_cols: list[str],
    n_buckets: int,
    lineage: str | None,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Shared machinery for the bucketed SCD2/SCD1 folds: compute the
    batch's touched buckets, drop the already-applied ones (per-bucket
    marker replay guard), merge base∪batch for the pending buckets in
    ONE Spark job, write partitioned by bucket, then swap each bucket in
    atomically with its marker."""
    import shutil

    from pyspark.sql import functions as F

    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")

    def bucket_of(df: DataFrame):
        return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _ensure_store_meta(store_dir, n_buckets, key_cols)
        touched = sorted(
            r[0]
            for r in batch_df.select(bucket_of(batch_df).alias("__b"))
            .distinct()
            .collect()
        )
        for b in touched:
            # a torn per-bucket swap must be healed BEFORE the marker read
            # and base scan — otherwise the replay would merge against an
            # empty base and erase the bucket's history (review r12)
            store.heal(_bucket_dir(store_dir, b))
        pending = [
            b
            for b in touched
            if batch_id > store.last_applied(_bucket_dir(store_dir, b), lineage)
        ]
        if not pending:
            return  # at-least-once replay: every touched bucket already has it
        batch_pending = batch_df.filter(bucket_of(batch_df).isin(pending))
        existing = [
            _bucket_dir(store_dir, b)
            for b in pending
            if store.published(_bucket_dir(store_dir, b))
        ]
        base = spark.read.parquet(*existing) if existing else None
        merged = merge(batch_pending, base)
        tmp = f"{store_dir}.tmp-{batch_id}"
        (
            merged.withColumn("__kw_b", bucket_of(merged))
            # one exchange aligning write tasks with buckets (round 13,
            # VERDICT r12 #5): without it every upstream partition holds
            # rows of ~all touched buckets, so the dynamic-partition
            # writer opens |partitions|×|buckets| tiny files — the
            # measured 1M-key backfill was 25.9 s / 16k files; with the
            # repartition it is 1.8 s / one row-group-sized file per
            # bucket (which is also the read-side shape the n_buckets
            # sizing rule wants). The shuffle carries only the merged
            # rows being published — at trickle scale it is noise, at
            # backfill scale it replaces a 13× slower writer fan-out.
            .repartition(F.col("__kw_b"))
            .write.partitionBy("__kw_b")
            .mode("overwrite")
            .parquet(tmp)
        )
        if not store.published(tmp):
            raise RuntimeError(f"bucketed publish job left no _SUCCESS in {tmp!r}")
        for b in pending:
            src = os.path.join(tmp, f"__kw_b={b}")
            # a pending bucket always has output rows (the batch put some
            # there and merges never drop all of them) — guard anyway so a
            # future merge semantics change fails loudly, not silently
            if not os.path.exists(src):
                raise RuntimeError(
                    f"merge produced no rows for touched bucket {b} — refusing "
                    "to publish an empty bucket over existing data"
                )
            # the job-level _SUCCESS above vouches for every partition dir
            store.mark_complete(src)
            store.publish(src, _bucket_dir(store_dir, b), batch_id, lineage)
        shutil.rmtree(tmp, ignore_errors=True)

    return fold


def scd2_fold_bucketed(
    spark: SparkSession,
    store_dir: str,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    n_buckets: int = 32,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Bucketed variant of :func:`scd2_fold`: same merge semantics, same
    lineage discipline, but each batch rewrites only the key-hash
    buckets it touches (per-batch I/O O(touched buckets), not O(table)).
    End state is pinned row-identical to the whole-store fold and to the
    one-shot ``scd2_history`` (tests/test_maintenance_stream.py). Read
    the store back with :func:`read_bucketed_store`.

    Sizing ``n_buckets`` (measured, PLANS.md §Round 12): each bucket is
    at least one parquet file with ~KBs of fixed footer cost, so make
    bucket DATA at least row-group sized (tens of MB at production
    scale) — at a 1M-row store, 256 buckets published 5.1× fewer bytes
    per trickle run than the whole-store fold; at a 20k-row toy store
    the same 256 buckets won only 1.5× because footers dominated. Too
    many buckets also multiplies the one-time backfill's atomic swaps;
    trickle-batch wall is at parity or better from the start."""
    merge = _scd2_merge(key_cols, ts_col, payload_cols, tiebreak_col)
    return _bucketed_fold(spark, store_dir, key_cols, n_buckets, lineage, merge)


def upsert_fold_bucketed(
    spark: SparkSession,
    store_dir: str,
    key_cols: list[str],
    version_col: str,
    n_buckets: int = 32,
    lineage: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Bucketed variant of :func:`upsert_fold` (SCD1 latest-wins)."""
    merge = _upsert_merge(key_cols, version_col)
    return _bucketed_fold(spark, store_dir, key_cols, n_buckets, lineage, merge)


def streaming_scd2_maintenance(
    obs: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """Run the SCD2 history store live: every micro-batch of the
    observation stream folds into ``store_dir``; restarting from the
    same checkpoint resumes exactly where it stopped, and a replayed
    batch never double-applies. The checkpoint path is stamped into the
    store's marker as the batch-id lineage: re-pointing a DIFFERENT
    checkpoint at the same store fails loudly at the first batch
    instead of silently skipping (ADVICE r10).

    ``n_buckets`` selects the BUCKETED store (``scd2_fold_bucketed``):
    each batch rewrites only the key-hash buckets it touches instead of
    the whole table — the continuous-stream shape; read it back with
    :func:`read_bucketed_store`. Default (None) keeps the whole-store
    publish, whose single directory is the simpler contract for the
    nightly ``availableNow`` shape."""
    args = (store_dir, key_cols, ts_col, payload_cols, tiebreak_col)
    if n_buckets is not None:
        return store.live_fold(obs, checkpoint, scd2_fold_bucketed, *args, n_buckets=n_buckets)
    return store.live_fold(obs, checkpoint, scd2_fold, *args)


def streaming_upsert_maintenance(
    updates: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_cols: list[str],
    version_col: str,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """Run the SCD1 snapshot store live (latest version per key); the
    checkpoint path is the marker lineage, as for SCD2. ``n_buckets``
    selects the bucketed store, as for SCD2."""
    args = (store_dir, key_cols, version_col)
    if n_buckets is not None:
        return store.live_fold(
            updates, checkpoint, upsert_fold_bucketed, *args, n_buckets=n_buckets
        )
    return store.live_fold(updates, checkpoint, upsert_fold, *args)
