"""ANN indexing operators: IVF and product quantization with trained
codebooks, plus the embedding dedup, storage and search around them.

One exact-integer quantizer core serves both quantizers. Training
(:func:`kmeans_fixed`; :func:`pq_train`, keyed by subspace) is the one
Lloyd trainer :func:`_lloyd` — one Python task for a training set of at
most ``_LOCAL_MAX_TRAIN`` cells (rows × width), a Spark pass per step
above; ingest (:func:`assign_lists`, :func:`pq_encode`) is one map pass
over the batch. Both use one codebook row (:func:`_codebook`) and one
nearest-codeword rule (:func:`_nearest`: exact integer squared L2, ties
to the lowest code). So ingest reproduces
training's labels bit for bit, and the DuckDB oracles of the registered
queries (queries/similarity.py) replay the whole chain.
:func:`train_ivf` (pyspark.ml KMeans) is the float trainer whose init
cannot be replayed cross-engine.

Scale shape (10⁹ vectors): training samples the corpus (``train=``);
assignment is one broadcast-scored map pass at ingest; search touches
~nprobe/k of the data via an equi-join on the list id. Probing every
list degrades gracefully to the exact baseline — pinned by the recall@k
test (tests/test_similarity.py).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, IntegralType, LongType, StructField, StructType

from kafka_workers_spark import store
from kafka_workers_spark.cache import pin, release
from kafka_workers_spark.operators.dedup import (
    cosine_from_fixed,
    embedding_fixed,
    explode_fixed,
    norms_fixed,
)


def train_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 7,
    list_col: str = "list_id",
):
    """Train a KMeans coarse quantizer and assign every vector to a list.

    Returns ``(model, assigned)`` where ``assigned`` is ``df`` plus an
    integer ``list_col``. Deterministic for a fixed seed. At scale, fit on
    ``df.sample(...)`` and reuse the model for streaming ingest via
    ``model.transform`` (a broadcast-scored map pass, no shuffle).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=k, seed=seed, featuresCol="__features", predictionCol="__list").fit(feats)
    assigned = (
        model.transform(feats)
        .withColumn(list_col, F.col("__list").cast("int"))
        .drop("__features", "__list")
    )
    return model, assigned


def kmeans_fixed(
    exploded: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    train: DataFrame | None = None,
    *,
    _lazy: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's KMeans over long-format fixed-point vectors —
    the oracle-checkable trained quantizer behind the registered
    ``ann_ivf_topk`` query.

    ``exploded`` is ``(id_col, i, x)`` (operators.dedup.explode_fixed):
    1e6-scaled integer components. Every step is exact integer math, so
    any engine replays it bit-identically: seeds = the ``k`` smallest
    ids' vectors (list_id = the seed id); each Lloyd step assigns by
    exact integer squared L2 (ties -> lowest list) and recomputes
    centroid components as floor-divided integer means (the 1e-6
    rounding is noise for clustering); the returned assignment is taken
    against the final centroids. Lists that lose all members drop out on
    every engine identically. :func:`train_ivf` (pyspark.ml KMeans)
    remains the production trainer — its float kmeans|| init cannot be
    replayed cross-engine, which is exactly why the driver-checked query
    uses this quantizer instead of a label stand-in.

    Returns ``(cents, assign)``: ``(list_id, i, c6)`` integer centroids
    and ``(id_col, list_id)`` assignments. Both are generation-pinned
    (sites ``similarity.kmeans_fixed.cents`` / ``.assign``): every
    caller reads them more than once, and the operator owns the pins.

    Building it runs ONE Spark job: the aggregate that pins and sizes
    the training vectors (ARCHITECTURE.md §4 rule 8). The private
    ``_lazy`` skips it and always builds the loop below, for callers
    whose construction must run no job (:func:`semantic_dedup`).

    Scale shape: the shared :func:`_lloyd` trainer — vectors collapse
    ONCE to dense arrays. A training set of at most ``_LOCAL_MAX_TRAIN``
    cells (vectors × dims) trains in one Python task;
    above that, centroids ride one broadcast codebook row,
    nearest-centroid assignment (:func:`_nearest`) is a pure map pass,
    and each Lloyd pass costs exactly ONE shuffle (the (list, dim) mean
    aggregate). Dims must be DENSE per id (0..dim−1 —
    what :func:`~kafka_workers_spark.operators.dedup.explode_fixed` and
    ``hashed_doc_vectors`` emit); a doc/centroid width mismatch raises
    in-plan rather than silently skipping dims. Pass ``train`` (a
    filtered subset of ``exploded``, e.g. a deterministic id-mod sample)
    so training touches a fraction of the corpus (standard practice);
    only the single final assignment pass reads every vector. At 100 TB,
    assign once at ingest instead (:func:`assign_lists`).
    """
    cents, assign = _lloyd(
        exploded, train, k, iters, id_col,
        op="kmeans_fixed", code="list_id", idx="i", dense_codes=False, lazy=_lazy,
    )
    return cents, pin(assign, "similarity.kmeans_fixed.assign")


#: Widened training sets (one row per id, or per (id, key)) of up to
#: this many cells (rows × width) are trained in one Python task
#: (:func:`_lloyd_task`) instead of one Spark pass per Lloyd step.
#: Measured with ``pq_train(m=4, dim=64, k=8, iters=2)`` plus a collect
#: of the codebooks on generated vectors (components in ±10^6; local[3]
#: on 4 cores, 3 shuffle partitions, 3 GB driver, 1-min load 2–3;
#: one-task vs loop, cold then warm rep; 4 rows of width 16 per vector):
#:   4·10^4 rows  2.4-7.3 s  vs  3.9-6.1 s
#:   2·10^5 rows  3.0-3.6 s  vs  9.3-9.7 s
#:   8·10^5 rows  8.7-10.8 s vs 33-44 s
#: Warm, no crossover; the limit is the largest size measured, 1.28·10^7
#: cells. The task's memory follows cells, not rows: at 1.28·10^7 cells
#: the solver alone (``_lloyd_task``, k=8, iters=2, no Spark) peaked at
#:   8·10^5 rows × 16 (4 keys)  Python heap 141 MB, Arrow 106 MB, 2.6 s
#:   2·10^5 rows × 64           Python heap 142 MB, Arrow 103 MB, 1.1 s
#:   1.7·10^4 rows × 768        Python heap 106 MB, Arrow 102 MB, 0.7 s
#: (tracemalloc and Arrow's pool high-water mark, one process on a
#: 4-core box; ~100 MB of Arrow input in each case).
_LOCAL_MAX_TRAIN = 12_800_000

_INT64_MAX = 2**63 - 1


def _int64_exact(n: int, width: int, lo: int, hi: int) -> bool:
    """Whether ``n`` training rows of ``width`` components in ``[lo, hi]``
    keep every Lloyd intermediate inside bigint: a squared distance is at
    most ``width·(2m)²`` and a cluster sum with its floor correction at
    most ``n·(m+1)`` in magnitude (``m = max(|lo|, |hi|)``; codewords are
    means, so they stay in ``[lo, hi]``). Under it neither the numpy
    solver nor Spark's ANSI arithmetic can overflow, so they agree."""
    m = max(abs(lo), abs(hi))
    return width * (2 * m) ** 2 <= _INT64_MAX and n * (m + 1) <= _INT64_MAX


def _lloyd_solve(
    xs: np.ndarray, seed_codes: np.ndarray, seed_rows: np.ndarray, iters: int, op: str
) -> tuple[np.ndarray, np.ndarray]:
    """One key's exact-integer Lloyd run over the dense int64 rows ``xs``
    (n × width), seeded with the rows ``seed_rows`` labelled
    ``seed_codes`` (ascending). Each step assigns every row to its
    nearest codeword — exact squared L2 as ‖x‖² − 2x·c + ‖c‖², ties to
    the lowest code — and replaces each codeword with the floor-divided
    mean of its rows; a codeword no row picks drops out. Returns the
    final ``(codes, codewords)``. Raises instead of wrapping when the
    rows could overflow bigint (:func:`_int64_exact`)."""
    codes, cw = seed_codes, xs[seed_rows]
    n, width = xs.shape
    if n and not _int64_exact(n, width, int(xs.min()), int(xs.max())):
        raise OverflowError(f"{op}: training components could overflow bigint")
    x2 = (xs * xs).sum(axis=1)
    for _ in range(iters):
        if not len(cw):
            break
        c2 = (cw * cw).sum(axis=1)
        labels = np.empty(n, dtype=np.int64)
        step = max(1, (1 << 22) // len(cw))
        for s in range(0, n, step):
            d = x2[s:s + step, None] - 2 * (xs[s:s + step] @ cw.T) + c2[None, :]
            labels[s:s + step] = d.argmin(axis=1)
        order = np.argsort(labels, kind="stable")
        sorted_labels = labels[order]
        starts = np.flatnonzero(np.r_[True, sorted_labels[1:] != sorted_labels[:-1]])
        sums = np.add.reduceat(xs[order], starts, axis=0)
        sizes = np.diff(np.r_[starts, n])
        picked = sorted_labels[starts]
        codes, cw = codes[picked], sums // sizes[:, None]
    return codes, cw


def _lloyd_task(k: int, iters: int, dense: bool, op: str, id_col: str,
                key: str | None, code: str, idx: str, batches):
    """``mapInArrow`` body of :func:`_lloyd`'s one-task path: the whole
    widened training set ``(id_col, [key,] __xs)`` in, the long
    ``([key,] code, idx, c6)`` codewords out — the loop's rules, in
    :func:`_lloyd_solve`. Seeds are the ``k`` smallest ids (a NULL id
    sorts first and takes a slot but, like the loop's equi-join, seeds
    nothing), coded by the id itself or, ``dense``, by its rank. A NULL
    key matches no codeword, so its rows are never assigned and only
    its seeds survive, at ``iters == 0``. Module-level, so the pickled
    task imports the package in its worker (see operators/text.py
    ``_bpe_train_task``). :func:`_fits_one_task` has checked the rows:
    at least one, all of one width, no NULL component."""
    t = pa.Table.from_batches(list(batches))
    ids = t.column(id_col).to_pylist()
    seeds = sorted({i for i in ids if i is not None})
    seeds = ([None] if None in ids else []) + seeds
    rank = {s: r for r, s in enumerate(seeds[:k]) if s is not None}
    rows = t.column("__xs").combine_chunks()
    width = len(rows[0])
    xs = rows.flatten().to_numpy().astype(np.int64, copy=False).reshape(len(ids), width)
    groups = t.column(key).to_pylist() if key else [0] * len(ids)
    by_key: dict = {}
    for r, g in enumerate(groups):
        by_key.setdefault(g, []).append(r)
    code_type = pa.int32() if dense else t.schema.field(id_col).type
    fields = [(code, code_type), (idx, pa.int32()), ("c6", pa.int64())]
    if key:
        fields.insert(0, (key, t.schema.field(key).type))
    schema = pa.schema(fields)
    for g, members in by_key.items():
        members = np.asarray(members)
        seeded = [(rank[ids[r]], j) for j, r in enumerate(members) if ids[r] in rank]
        seeded.sort()
        seed_codes = np.array(
            [c if dense else seeds[c] for c, _ in seeded], dtype=np.int64
        )
        seed_rows = np.array([j for _, j in seeded], dtype=np.int64)
        sub = xs if len(members) == len(ids) else xs[members]
        if g is None:
            if iters:
                continue
            codes, cw = seed_codes, sub[seed_rows]
        else:
            codes, cw = _lloyd_solve(sub, seed_codes, seed_rows, iters, op)
        if not len(codes):
            continue
        cols = [
            pa.array(np.repeat(codes, width)).cast(code_type),
            pa.array(np.tile(np.arange(width, dtype=np.int32), len(codes))),
            pa.array(cw.reshape(-1)),
        ]
        if key:
            cols.insert(0, pa.array([g] * (len(codes) * width), schema.field(0).type))
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


def _lloyd(
    exploded: DataFrame,
    train: DataFrame | None,
    k: int,
    iters: int,
    id_col: str,
    op: str,
    code: str,
    idx: str,
    dense_codes: bool,
    key: str | None = None,
    lazy: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The one exact-integer Lloyd trainer behind :func:`kmeans_fixed`,
    :func:`pq_train` and :func:`semantic_dedup`. ``exploded`` is long
    ``(id_col, [key,] idx, x)``; ``key`` (PQ's ``sub``) runs one
    independent quantizer per key value.

    The training rows widen to one dense array per ``(id, key)``. Seeds
    are the ``k`` smallest training ids, coded by the id itself or,
    ``dense_codes``, by its rank 0..k−1. Each step assigns every row to
    its nearest codeword (:func:`_nearest`: exact integer squared L2,
    ties to the lowest code) and recomputes codewords as floor-divided
    integer means; a code no row picks drops out.

    Unless ``lazy``, the wide rows are generation-pinned and sized by
    ONE aggregate at call time (rows, widths, component range, NULLs).
    Rows of one width, at most ``_LOCAL_MAX_TRAIN`` cells in all,
    without NULL components and inside :func:`_int64_exact`'s bound,
    are trained in ONE Python task (:func:`_lloyd_task`): no Spark pass
    per step. Anything else — an empty set, and any input whose sizing
    aggregate raises in-plan, e.g. a ragged one — runs the Spark loop
    below, which raises at the caller's first action as it always has.
    ``lazy`` (semantic_dedup's job-free construction, through
    :func:`kmeans_fixed`'s ``_lazy``) always runs the loop.

    The loop: each pass assigns with :func:`_nearest` against the
    broadcast :func:`_codebook` row — a map pass — and the (key, code,
    idx) mean aggregate is the pass's ONLY shuffle; the seed codebook is
    cut straight from the wide frame (pinned when a pass reads it).

    Either way the final assignment reads every vector of ``exploded``
    once, against the broadcast final codebook. Returns ``(cents,
    assign)``: long ``([key,] code, idx, c6)`` codewords,
    generation-pinned at ``similarity.{op}.cents``, and ``(id_col,
    [key,] code)``.
    """
    keys = [key] if key else []
    train = exploded if train is None else train

    def assign(wide: DataFrame, cb: DataFrame) -> DataFrame:
        # the filter drops rows only when the codebook is EMPTY
        # (array_min over no codewords → NULL)
        return (
            wide.crossJoin(F.broadcast(cb))
            .select(id_col, *keys, "__xs", _nearest(F.col("__xs"), code, op, key).alias(code))
            .filter(F.col(code).isNotNull())
        )

    wide_train = _widen_dense(train, [id_col, *keys], idx, "x", op)
    seed_code = F.row_number().over(W.orderBy(id_col)) - 1 if dense_codes else F.col(id_col)
    seeds = (
        train.select(id_col).distinct().orderBy(id_col).limit(k)
        .select(id_col, seed_code.alias(code))
    )
    if not lazy or iters > 0:
        # one materialization for the sizing aggregate, every assignment
        # pass and the final read: the widen aggregate is not
        # runtime-reused (r16 A/B)
        wide_train = pin(wide_train, f"similarity.{op}.wide")
    if not lazy and _fits_one_task(wide_train, id_col):
        cents = pin(
            wide_train.coalesce(1).mapInArrow(
                functools.partial(_lloyd_task, k, iters, dense_codes, op, id_col, key, code, idx),
                StructType([
                    *(wide_train.schema[c] for c in keys),
                    StructField(code, seeds.schema[code].dataType),
                    StructField(idx, IntegerType()),
                    StructField("c6", LongType()),
                ]),
            ),
            f"similarity.{op}.cents",
        )
        cb = _codebook(cents, [*keys, code], op, idx)
    else:
        seeded = wide_train.join(F.broadcast(seeds), id_col).select(*keys, code, "__xs")
        cb = _codebook(seeded, [*keys, code], op)
        # long-format seed codewords — the returned frame when iters == 0
        cents = seeded.select(*keys, code, F.posexplode("__xs").alias(idx, "c6"))
        for _ in range(iters):
            # floor-divided integer mean: (S - pmod(S, c)) DIV c is exact —
            # pmod keeps the remainder non-negative so the floor semantics
            # match DuckDB's // on negative sums too. The posexplode stays in
            # its own select: beside _nearest, a generator would re-evaluate
            # the nearest expression once per exploded element.
            cents = (
                assign(wide_train, cb)
                .select(*keys, code, F.posexplode("__xs").alias(idx, "x"))
                .groupBy(*keys, code, idx)
                .agg(F.expr("(sum(x) - pmod(sum(x), count(*))) DIV count(*)").alias("c6"))
            )
            cb = _codebook(cents, [*keys, code], op, idx)
        cents = pin(cents, f"similarity.{op}.cents")
    wide_full = (
        wide_train if train is exploded
        else _widen_dense(exploded, [id_col, *keys], idx, "x", op)
    )
    return cents, assign(wide_full, cb).select(id_col, *keys, code)


def _fits_one_task(wide: DataFrame, id_col: str) -> bool:
    """:func:`_lloyd`'s path choice, from one aggregate over the pinned
    wide training rows (it materializes the pin); integral ids only.
    False when the aggregate counts no row, or raises in-plan (a guard's
    or :func:`_widen_dense`'s ``raise_error``): the loop plan then gives
    the loop's own outcome — for a ragged or a guarded empty training
    frame, the raise at the caller's first action. Any other failure
    propagates."""
    if not isinstance(wide.schema[id_col].dataType, IntegralType):
        return False
    xs = F.col("__xs")
    try:
        n, w_lo, w_hi, lo, hi, nulls = wide.agg(
            F.count("*"), F.min(F.size(xs)), F.max(F.size(xs)),
            F.min(F.array_min(xs)), F.max(F.array_max(xs)),
            F.bool_or(F.exists(xs, lambda x: x.isNull())),
        ).first()
    except (PySparkException, Py4JJavaError) as e:
        # raise_error's condition; a guard's raise inside a broadcast
        # arrives wrapped in the broadcast future's ExecutionException
        if "[USER_RAISED_EXCEPTION]" not in str(e):
            raise
        return False
    if not n or nulls or w_lo != w_hi or n * w_hi > _LOCAL_MAX_TRAIN:
        return False
    return _int64_exact(n, w_hi, lo, hi)


def _codebook(
    cents: DataFrame, fields: list[str], op: str, idx: str | None = None
) -> DataFrame:
    """Codewords → ONE collected ``__cb`` row of ``struct(fields…, __cs)``
    (k·dim values — tiny) for a broadcast cross join. ``cents`` is long
    ``(fields…, idx, c6)``, or already dense ``(fields…, __xs)`` rows
    when ``idx`` is None. collect_list order is irrelevant: :func:`_nearest`
    takes an order-free argmin."""
    if idx is not None:
        cents = _widen_dense(cents, fields, idx, "c6", op)
    return cents.groupBy().agg(
        F.collect_list(F.struct(*fields, F.col("__xs").alias("__cs"))).alias("__cb")
    )


def _nearest(
    xs: Column, code: str, op: str, key: str | None = None, at: Column | None = None
) -> Column:
    """The one nearest-codeword rule, as a map-side expression over the
    row's ``__cb`` codebook column: exact integer squared L2 to every
    codeword — only those whose ``key`` field equals ``at`` (default:
    the row's own ``key`` column) when ``key`` is given — and the argmin
    as ``array_min`` over ``(d, code)`` structs, i.e. ties go to the
    lowest code. NULL only when no codeword matches."""
    cb = F.col("__cb")
    if key is not None:
        want = F.col(key) if at is None else at
        cb = F.filter(cb, lambda c: c[key] == want)
    return F.array_min(
        F.transform(
            cb,
            lambda c: F.struct(
                _sq_dist_dense(xs, c["__cs"], op).alias("d"), c[code].alias(code)
            ),
        )
    )[code]


def _encode(
    df: DataFrame,
    cb: DataFrame,
    id_col: str,
    vec_col: str,
    width: Column,
    out: Column,
    op: str,
) -> DataFrame:
    """The one ingest pass of :func:`assign_lists` and :func:`pq_encode`:
    a map over the batch's own rows against the broadcast codebook row
    (``__xs`` is the row's fixed-point vector), adding ``out``. A row
    whose vector is NULL or not ``width`` wide — or any row, when the
    codebook is empty — RAISES naming ``op`` and the id. The guard is a
    FILTER so column pruning cannot drop it under count()-style
    actions."""
    ok = F.when(F.size(F.col(vec_col)) == width, F.lit(True)).otherwise(
        F.raise_error(
            F.format_string(
                f"{op}: {id_col} %s has a NULL vector or one not %s wide "
                "(the codebook's width; null means the codebook is empty)",
                F.col(id_col),
                width,
            )
        ).cast("boolean")
    )
    return (
        df.select("*", embedding_fixed(F.col(vec_col)).alias("__xs"))
        .crossJoin(F.broadcast(cb))
        .filter(ok)
        .select(*df.columns, out)
    )


def _widen_dense(
    df: DataFrame, key_cols: list[str], idx_col: str, val_col: str, op: str
) -> DataFrame:
    """Collapse a long-format ``(keys…, idx, val)`` frame to one dense
    array per key group — the wide-format Lloyd loops' input shape.
    ``array_sort`` on (idx, val) structs orders by the dim index, and the
    sorted index list is verified IN-PLAN to be exactly 0..n−1: a ragged
    group (missing or duplicate dim indices) raises instead of silently
    relabeling dims by position (equal-width ragged inputs would
    otherwise misalign — caught by review, pinned in
    tests/test_similarity.py)."""
    agged = df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(F.struct(idx_col, val_col))).alias("__sx")
    )
    dense = F.col("__sx").getField(idx_col).cast("array<int>") == F.sequence(
        F.lit(0), F.size("__sx") - 1
    )
    return agged.select(
        *key_cols,
        F.when(dense, F.col("__sx").getField(val_col))
        .otherwise(
            F.raise_error(
                F.lit(
                    f"{op}: width mismatch — dim indices must be dense 0..n-1 "
                    "per id (missing or duplicate dims)"
                )
            ).cast("array<bigint>")
        )
        .alias("__xs"),
    )


def _sq_dist_dense(xs, cs, op: str):
    """Exact integer squared L2 over two dense arrays; a width mismatch
    (vector vs centroid trained at a different dimensionality) fails
    loudly instead of silently dropping dims."""
    return F.when(
        F.size(xs) == F.size(cs),
        F.aggregate(
            F.zip_with(xs, cs, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    ).otherwise(
        F.raise_error(
            F.lit(f"{op}: vector/centroid width mismatch — dims must be dense")
        ).cast("long")
    )


def _query_id_filter(frame: DataFrame, id_col: str, query_ids) -> DataFrame:
    """Restrict ``frame`` to the query ids — an ``isin`` literal for a
    Python list (fine up to a few thousand ids), or a broadcast LEFT SEMI
    join when the queries arrive as a DataFrame of ids (the production
    shape: a query table, not a driver-side literal list)."""
    if isinstance(query_ids, DataFrame):
        ids = query_ids.select(F.col(query_ids.columns[0]).alias(id_col))
        return frame.join(F.broadcast(ids), id_col, "left_semi")
    return frame.filter(F.col(id_col).isin(query_ids))


def ivf_topk(
    assigned: DataFrame,
    query_ids: list[int] | DataFrame,
    nprobe: int,
    top_k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "list_id",
) -> DataFrame:
    """Cosine top-k over the ``nprobe`` inverted lists nearest each query.

    List ranking uses query·(list mean) — at KMeans convergence the list
    mean IS the trained centroid, so this probes exactly the model's
    nearest lists without shipping the model into the plan. All stages are
    codegen'd relational ops on fixed-point integers (operators/dedup.py);
    probing all lists reproduces the exact brute-force result.
    ``query_ids`` is a Python list or a one-column DataFrame of ids (the
    at-scale form — a stored query table semi-joins in, no driver
    literal).
    """
    vecs = assigned.select(id_col, list_col, embedding_fixed(F.col(vec_col)).alias("v6"))
    exploded = explode_fixed(vecs, [id_col, list_col])
    norms = norms_fixed(exploded, [id_col])

    cents = exploded.groupBy(list_col, "i").agg(
        F.sum("x").alias("sx"), F.count("*").alias("cnt")
    )
    q = _query_id_filter(exploded, id_col, query_ids).select(
        F.col(id_col).alias("query_id"), F.col("i").alias("qi"), F.col("x").alias("qx")
    )
    pscore = (
        cents.join(F.broadcast(q), F.col("qi") == F.col("i"))
        .groupBy("query_id", list_col)
        .agg((F.sum(F.col("qx") * F.col("sx")).cast("double") / F.max("cnt")).alias("score"))
    )
    wprobe = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc(list_col))
    probe = (
        pscore.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", F.col(list_col).alias("__plist"))
    )
    qp = q.join(F.broadcast(probe), "query_id")
    dots = (
        exploded.join(
            F.broadcast(qp),
            (F.col("qi") == F.col("i"))
            & (F.col("__plist") == F.col(list_col))
            & (F.col("query_id") != F.col(id_col)),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("qx") * F.col("x")).alias("dot6"))
    )
    # query norms filtered to the query ids BEFORE the broadcast hint —
    # hinting the full norms table would ship one row per corpus vector;
    # the candidate-side norm join stays unhinted (AQE broadcasts it at
    # small scale, shuffle-joins it at 10⁹ vectors)
    qn = (
        _query_id_filter(norms, id_col, query_ids)
        .withColumnRenamed(id_col, "query_id")
        .withColumnRenamed("norm6", "qn")
    )
    scored = (
        dots.join(F.broadcast(qn), "query_id")
        .join(norms, id_col)
        .select(
            "query_id",
            id_col,
            cosine_from_fixed(F.col("dot6"), F.col("qn"), F.col("norm6")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Mean fraction of the exact top-k recovered per query (driver-side —
    a test/evaluation metric over tiny top-k result sets, not a pipeline
    stage)."""
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    by_q: dict[int, int] = {}
    total: dict[int, int] = {}
    for r in exact.collect():
        total[r.query_id] = total.get(r.query_id, 0) + 1
        if (r.query_id, r.neighbor_id) in a:
            by_q[r.query_id] = by_q.get(r.query_id, 0) + 1
    if not total:
        return 0.0
    return sum(by_q.get(qid, 0) / min(k, n) for qid, n in total.items()) / len(total)


def rhp_bands(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane band keys per vector — ``(id_col, band,
    band_key)``, the persistable RHP index (same role as
    pipeline.build_dedup_index for text): bit_i = sign(v · r_i) for
    seeded integer Gaussian hyperplanes, bits packed per band into one
    integer key. Deterministic for a (seed, n_bits, n_bands, dim)
    tuple — store those with the index. :func:`rhp_lsh_pairs` is the
    self-join consumer; :func:`near_dedup_embeddings_incremental` joins
    new batches against a stored copy.

    Plan shape: the hyperplane matrix (n_bits × dim, tiny) broadcasts
    against the long-format vector explode; bits come out of ONE
    codegen'd hash aggregate (no Python). Fixed-point values keep signs
    deterministic across engines.
    """
    if n_bits % n_bands != 0:
        raise ValueError(f"n_bands ({n_bands}) must divide n_bits ({n_bits})")
    import numpy as np

    rows_per_band = n_bits // n_bands
    rng = np.random.RandomState(seed)
    # exact integer projection entries: signs are invariant to the 1e6
    # scaling of both operands, and integer arithmetic is engine-portable
    proj = np.floor(rng.standard_normal((n_bits, dim)) * 1_000_000).astype("int64")
    spark = df.sparkSession
    proj_rows = [
        (b, i, int(proj[b, i])) for b in range(n_bits) for i in range(dim)
    ]
    proj_df = spark.createDataFrame(proj_rows, "bit int, i int, r long")

    # fail loudly on a dim mismatch: the projection join on i < dim would
    # otherwise silently truncate longer vectors to a prefix, quietly
    # degrading blocking recall (assert_true evaluates NULL per row when
    # the size matches, throws on the first mismatch). size(NULL) = -1,
    # so NULL embeddings land here too — say so in the message (ADVICE r03)
    checked = F.when(
        F.assert_true(
            F.size(F.col(vec_col)) == dim,
            F.lit(
                f"rhp_bands: NULL embedding or length != dim ({dim}) — "
                "filter NULL vectors upstream or fix the dim argument"
            ),
        ).isNull(),
        embedding_fixed(F.col(vec_col)),
    )
    vecs = df.select(id_col, checked.alias("v6"))
    exploded = explode_fixed(vecs, [id_col])
    bits = (
        exploded.join(F.broadcast(proj_df), "i")
        .groupBy(id_col, "bit")
        .agg(F.sum(F.col("x") * F.col("r")).alias("proj6"))
        .select(id_col, "bit", (F.col("proj6") >= 0).cast("int").alias("b"))
    )
    # pack each band's bits into one integer key: band = bit div rows_per_band
    return (
        bits.withColumn("band", (F.col("bit") / rows_per_band).cast("int"))
        .withColumn("pos", F.col("bit") % rows_per_band)
        .withColumn("contrib", F.expr("CAST(b AS BIGINT) * shiftleft(CAST(1 AS BIGINT), pos)"))
        .groupBy(id_col, "band")
        .agg(F.sum("contrib").alias("band_key"))
    )


def rhp_lsh_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs over an embedding column —
    the vector analog of MinHash-LSH (Charikar, STOC'02 similarity
    estimation): bit_i = sign(v · r_i) for ``n_bits`` seeded Gaussian
    hyperplanes; two vectors agree on a bit with probability
    1 - angle(a, b)/π, so banding the bits yields a cosine-blocking join
    with NO pretrained labels or centroids (contrast ivf_topk, which needs
    a trained quantizer; dedup_embedding_cosine, which blocks on an
    existing label).

    Plan shape: the hyperplane matrix (n_bits × dim, seeded numpy — tiny)
    broadcasts against the long-format vector explode; bits come out of
    ONE codegen'd hash aggregate (sum of x·r per (id, bit), no Python);
    bands equi-join like the simhash byte bands — Σ bucket², never n².
    Fixed-point vector values keep the sign computation deterministic
    across engines (the projection constants are exact integers).

    Returns (id_a, id_b, n_shared_bands) candidate pairs; verify with
    exact cosine (cosine_from_fixed) downstream.
    """
    bands = rhp_bands(
        df, dim, id_col=id_col, vec_col=vec_col, n_bits=n_bits, n_bands=n_bands, seed=seed
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").cast("int").alias("n_shared_bands"))
    )


def near_dedup_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.99,
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 7,
    exact_groups: bool = False,
) -> DataFrame:
    """Label-free embedding near-dedup: RHP-LSH blocking →
    exact-cosine verification → one survivor per duplicate group.

    The three-stage shape of a production semantic-dedup pass over, e.g.,
    image/text embedding tables where no cluster labels exist yet:
    candidate pairs from :func:`rhp_lsh_pairs` (Σ bucket² blocking join),
    each verified with the exact fixed-point cosine (vectorized Arrow dot
    products — pair table only, never n²), survivors = docs that are not
    a non-minimum member of a verified duplicate group. ``exact_groups``
    resolves transitive closure via connected components (EAGER — see
    operators/components.py); the default greedy rule drops any vector
    verified-similar to a lower id.
    """
    cand = rhp_lsh_pairs(
        df, dim, id_col=id_col, vec_col=vec_col, n_bits=n_bits, n_bands=n_bands, seed=seed
    )
    return _survivors_after_verify(df, cand, id_col, vec_col, min_cosine, exact_groups)


def _survivors_after_verify(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
    exact_groups: bool,
) -> DataFrame:
    """Shared verify-then-survive tail of the embedding dedup operators:
    candidate ``(id_a, id_b)`` pairs (id_a < id_b) are verified with the
    exact fixed-point cosine (vectorized Arrow dots on the pair table
    only, never n²); survivors keep every row not dropped by the survivor
    rule — greedy (any id verified-similar to a lower id loses) or exact
    transitive groups via connected components (EAGER, see
    operators/components.py)."""
    from kafka_workers_spark.operators.dedup import barrier, dot_fixed_fast

    vecs = df.select(
        F.col(id_col).alias("__vid"), embedding_fixed(F.col(vec_col)).alias("v6")
    )
    norms = norms_fixed(explode_fixed(vecs, ["__vid"]), ["__vid"])
    # Round-15 optimization (guide §2.5/§3): the candidate table arrives
    # partitioned by the BLOCKING key (list_id / band key) — a handful of
    # distinct values with quadratic per-key pair counts, so every verify
    # join, the Arrow dot and the survivor distinct would run at ≤k-way
    # parallelism with the largest block as a straggler. Repartitioning by
    # the pair key spreads the quadratic stage uniformly and scales with
    # the session's shuffle-partition setting. Vector and norm ride ONE
    # frame per side (2 broadcast joins instead of 4 — half the join
    # stages on the pair table).
    vn = vecs.join(norms, "__vid")
    enriched = (
        barrier(cand, "id_a", "id_b")
        .join(
            vn.select(
                F.col("__vid").alias("id_a"),
                F.col("v6").alias("va"),
                F.col("norm6").alias("na"),
            ),
            "id_a",
        )
        .join(
            vn.select(
                F.col("__vid").alias("id_b"),
                F.col("v6").alias("vb"),
                F.col("norm6").alias("nb"),
            ),
            "id_b",
        )
    )
    verified = enriched.withColumn(
        "cosine", cosine_from_fixed(dot_fixed_fast(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    ).filter(F.col("cosine") >= min_cosine)
    if exact_groups:
        from kafka_workers_spark.operators.components import connected_components

        comp = connected_components(verified.select("id_a", "id_b"), src="id_a", dst="id_b")
        losers = comp.filter(F.col("node") != F.col("comp")).select(F.col("node").alias(id_col))
    else:
        losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    min_cosine: float = 0.99,
    iters: int = 2,
    train_mod: int | None = 4,
    exact_groups: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus with a TRAINED coarse quantizer, then near-dedup
    within each cluster by exact cosine — blocking comes from the
    quantizer's own lists, no pre-existing label column and no random
    hyperplanes.

    The quantizer is :func:`kmeans_fixed` (exact integer Lloyd's — the
    same arithmetic the registered ``ann_ivf_topk`` query replays
    bit-identically in DuckDB, so this whole operator is cross-engine
    checkable; see tests/test_oracle_extra.py). Training runs on the
    deterministic ``id % train_mod == 0`` sample (``None`` trains on
    everything; ``id_col`` must be numeric for the sample); the single
    full pass is the final list assignment. Candidate pairs are the
    within-list self-join — cost Σ list², bounded by n²/k for balanced
    lists, so ``k`` scales with the corpus exactly like IVF list count.
    Pairs straddling a cluster boundary are not candidates — the paper's
    accepted recall trade; :func:`near_dedup_embeddings` (RHP blocking)
    is the complementary pass whose recall is independent of cluster
    geometry.

    Plan shape: training = ``iters`` map-assign + one-shuffle mean
    passes over the sample (:func:`_lloyd`'s Spark loop: it runs no
    sizing action, so construction stays job-free); assignment = one broadcast
    map pass over the corpus; the assignment table (2 longs per vector)
    arrives generation-pinned from :func:`kmeans_fixed` because the pair
    self-join consumes it twice (ARCHITECTURE.md §4 rule 2a);
    verification touches only the candidate pair table. An empty
    training sample would make the quantizer empty and the whole
    operator a SILENT no-op, so it raises in-plan at the first action
    (:func:`_require_rows`); construction runs no Spark job.
    """
    from kafka_workers_spark.operators.dedup import barrier

    # barrier before the explode: kmeans_fixed references the exploded
    # frame from every Lloyd pass (seeds, per-iteration assignment and
    # centroid recompute, final assignment) — without the exchange pin
    # each reference would re-scan the input and re-run the interpreted
    # fixed-point conversion (same shape as _vectors_exploded in
    # queries/similarity.py)
    comp = explode_fixed(
        barrier(
            df.select(id_col, embedding_fixed(F.col(vec_col)).alias("v6")), id_col
        ),
        [id_col],
    )
    train = None
    if train_mod is not None:
        # the existence probe reads the RAW frame (ids only, pre-barrier,
        # pre-conversion — a plain short-circuiting scan, never the exchange)
        sampled = F.pmod(F.col(id_col), F.lit(train_mod)) == 0
        train = _require_rows(
            comp.filter(sampled),
            df.filter(sampled).select(id_col),
            f"semantic_dedup: no id satisfies id % {train_mod} == 0 — the "
            "training sample is empty; pass a different train_mod or None",
        )
    # construction runs no Spark job, so no sizing action: the Lloyd loop
    _, assign = kmeans_fixed(comp, k=k, iters=iters, id_col=id_col, train=train, _lazy=True)
    a, b = assign.alias("a"), assign.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    return _survivors_after_verify(df, cand, id_col, vec_col, min_cosine, exact_groups)


def _require_rows(frame: DataFrame, probe: DataFrame, msg: str) -> DataFrame:
    """Lazy empty-input guard: ``frame`` cross-joins a broadcast 1-row
    guard computed from a short-circuiting ``limit(1)`` over ``probe``,
    and its filter REFERENCES the guard value, so Catalyst cannot prune
    the raise_error away. The first action that reads ``frame`` raises
    ``msg`` when ``probe`` is empty; building the plan runs no job."""
    guard = (
        probe.limit(1)
        .groupBy()
        .agg(F.count("*").alias("__any"))
        .select(
            F.when(F.col("__any") > 0, F.lit(1))
            .otherwise(F.raise_error(F.lit(msg)).cast("int"))
            .alias("__ok")
        )
    )
    return frame.crossJoin(F.broadcast(guard)).filter(F.col("__ok") == 1).drop("__ok")


# ---------------------------------------------------------------------------
# Embedding storage: symmetric int8 quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    codes_col: str = "q_codes",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``code_i = round(x_i / scale)`` in [-127, 127], stored as
    ``array<tinyint>`` + one float scale — 4x smaller than float32 at
    rest, the standard storage form for 10⁹-vector ANN corpora (per-
    component reconstruction error ≤ scale/2, cosine distortion O(1/255)
    — verify with exact re-ranking on the shortlist, exactly what
    :func:`ivf_topk`'s probed search produces).

    All collection expressions (array_max/array_min/transform) — a
    single per-row O(dim) pass, no Python, no shuffle. All-zero (and
    NULL-free) vectors get scale 0 and all-zero codes; NULL vectors stay
    NULL in both output columns.
    """
    v = F.col(vec_col)
    peak = F.greatest(F.array_max(v), -F.array_min(v)).cast("double")
    scale = (peak / F.lit(127.0)).cast("double")
    codes = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(codes_col, codes).withColumn(scale_col, scale.cast("float"))


def dequantize_embeddings(
    df: DataFrame,
    codes_col: str = "q_codes",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``x_i ≈ code_i * scale``
    as ``array<float>`` — the shape every ANN/dedup operator here takes,
    so quantized corpora plug straight back into the similarity family."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col),
            lambda c: (c.cast("double") * F.col(scale_col)).cast("float"),
        ),
    )


def assign_lists(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "list_id",
) -> DataFrame:
    """Ingest-time IVF list assignment against STORED integer centroids:
    train once (:func:`kmeans_fixed` → persist ``cents`` as a table),
    then assign every new batch here and land ``list_col`` as a stored
    column for :func:`ivf_topk`-style probed search. One map pass
    (:func:`_encode`) over the batch's own vectors against the broadcast
    centroid row, with the training loop's own :func:`_nearest` rule —
    so re-assigning training vectors reproduces their training lists.
    A NULL vector, or one whose width differs from the centroids',
    raises naming ``id_col``'s value.
    """
    out = _nearest(F.col("__xs"), "list_id", "assign_lists").alias(list_col)
    width = F.size(F.get(F.col("__cb"), 0)["__cs"])
    cb = _codebook(cents, ["list_id"], "assign_lists", "i")
    return _encode(df, cb, id_col, vec_col, width, out, "assign_lists")


def near_dedup_embeddings_incremental(
    new_vecs: DataFrame,
    index: DataFrame,
    corpus_vecs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.99,
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an embedding ingest batch against a landed corpus via its
    stored RHP band index — the vector analog of
    pipeline.near_dedup_incremental, with one extra step text doesn't
    need: band collisions are only CANDIDATES here, so hits are verified
    with the exact fixed-point cosine before anything is dropped (an
    unverified band hit at 16 bits would false-positive far too often to
    delete on).

    ``index`` is :func:`rhp_bands` output for the landed corpus (same
    seed/n_bits/n_bands/dim — store them with it); ``corpus_vecs`` is
    the landed vector table, touched ONLY for the candidates' rows (a
    semi-join by id — the corpus is never rescanned). Batch-internal
    near-dups resolve greedily (lowest id wins), also cosine-verified.

    Returns ``(survivors, new_index_rows)``; append the latter to the
    index. Per-batch cost: batch band computation + one equi-join against
    the index + exact cosines on the candidate pairs only.
    """
    from kafka_workers_spark.operators.dedup import dot_fixed_fast

    new_bands = rhp_bands(
        new_vecs, dim, id_col=id_col, vec_col=vec_col,
        n_bits=n_bits, n_bands=n_bands, seed=seed,
    )

    def _fixed(df: DataFrame, out_id: str) -> DataFrame:
        vecs = df.select(
            F.col(id_col).alias(out_id), embedding_fixed(F.col(vec_col)).alias(f"__v_{out_id}")
        )
        norms = norms_fixed(
            explode_fixed(vecs.withColumnRenamed(f"__v_{out_id}", "v6"), [out_id]), [out_id]
        ).withColumnRenamed("norm6", f"__n_{out_id}")
        return vecs.join(norms, out_id)

    def _verified(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        """(new_id, other_id) pairs verified at >= min_cosine."""
        enriched = pairs.join(left, "new_id").join(right, "other_id")
        return enriched.withColumn(
            "__cos",
            cosine_from_fixed(
                dot_fixed_fast(F.col("__v_new_id"), F.col("__v_other_id")),
                F.col("__n_new_id"),
                F.col("__n_other_id"),
            ),
        ).filter(F.col("__cos") >= min_cosine)

    # corpus hits: candidates from the index join, vectors fetched for
    # candidate ids only
    cand_corpus = (
        new_bands.join(index.withColumnRenamed(id_col, "__old"), ["band", "band_key"])
        .select(F.col(id_col).alias("new_id"), F.col("__old").alias("other_id"))
        .distinct()
    )
    new_fixed = _fixed(new_vecs, "new_id")
    corpus_needed = corpus_vecs.join(
        cand_corpus.select(F.col("other_id").alias(id_col)).distinct(), id_col, "left_semi"
    )
    corpus_fixed = _fixed(corpus_needed, "other_id")
    dropped_vs_corpus = _verified(cand_corpus, new_fixed, corpus_fixed).select(
        F.col("new_id").alias(id_col)
    ).distinct()

    # batch-internal: candidate pairs among the not-yet-dropped rows,
    # greedy lowest-id survivor, also cosine-verified
    fresh_bands = new_bands.join(dropped_vs_corpus, id_col, "left_anti")
    a, b = fresh_bands.alias("a"), fresh_bands.alias("b")
    cand_batch = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"b.{id_col}").alias("new_id"), F.col(f"a.{id_col}").alias("other_id")
        )
        .distinct()
    )
    other_fixed = (
        new_fixed.withColumnRenamed("new_id", "other_id")
        .withColumnRenamed("__v_new_id", "__v_other_id")
        .withColumnRenamed("__n_new_id", "__n_other_id")
    )
    dropped_in_batch = _verified(cand_batch, new_fixed, other_fixed).select(
        F.col("new_id").alias(id_col)
    ).distinct()

    all_dropped = dropped_vs_corpus.unionByName(dropped_in_batch).distinct()
    survivors = new_vecs.join(all_dropped, id_col, "left_anti")
    new_index_rows = new_bands.join(all_dropped, id_col, "left_anti")
    return survivors, new_index_rows


# ---------------------------------------------------------------------------
# Product quantization (PQ): codes-at-rest ANN via asymmetric distance
# ---------------------------------------------------------------------------


def _pq_comp(exploded: DataFrame, dsub: int, id_col: str) -> DataFrame:
    """(id, i, x) long format → (id, sub, j, x): subspace id and
    within-subspace index for contiguous dim/m splits."""
    return exploded.select(
        id_col,
        F.expr(f"i DIV {dsub}").alias("sub"),
        F.expr(f"i % {dsub}").alias("j"),
        "x",
    )


def pq_train(
    exploded: DataFrame,
    m: int = 4,
    dim: int = 64,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    train: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic product-quantizer training (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split each vector into ``m`` contiguous subvectors of ``dim/m``
    components and run the same exact-integer Lloyd's as
    :func:`kmeans_fixed` independently per subspace — but all ``m``
    subspaces travel through ONE grouped plan (``sub`` joins every group
    key), so training m codebooks costs the same number of passes as
    training one. Seeds per subspace are the ``k`` smallest training
    ids' subvectors, and ``code`` is DENSE 0..k-1 from the start: the
    seed list is one global k-row frame, so each seed's code is its
    rank in that list (row_number over k rows — an order-preserving
    bijection of the seed ids, so the lowest-code tie-break equals the
    lowest-seed-id tie-break and no distance moves). Dense codes are
    not cosmetic: downstream :func:`pq_encode` stores codes as
    ``array<int>``, and raw seed ids from a hash-derived bigint id space
    would silently wrap under the non-ANSI int cast, corrupting every
    later (sub, code) ADC join. Ties in assignment break to the lowest
    code, and codeword components are floor-divided integer means —
    every step replays bit-identically on any engine (the DuckDB oracle
    for the registered ``ann_pq_adc_topk`` query replays the full
    chain; the remap is invisible to it because search output never
    exposes code values, only distances).

    An empty training frame raises in-plan (:func:`_require_rows`), at
    the first action, instead of silently producing empty codebooks — otherwise
    :func:`pq_encode` would have nothing to encode against, the
    silent-no-op failure mode this package guards against everywhere.

    Building it runs ONE Spark job: the aggregate that pins and sizes
    the training rows (ARCHITECTURE.md §4 rule 8).

    Returns ``(cents, codes)``: ``(sub, code, j, c6)`` integer codebooks
    (generation-pinned at ``similarity.pq_train.cents``) and ``(id_col,
    sub, code)`` — m small codes per vector, the at-rest representation
    (``m·log2(k)`` bits instead of ``dim·32``: with m=8, k=256 that is 8
    bytes per vector, a 32× compression of a 64-dim float corpus,
    searchable without decompression via :func:`pq_adc_topk`).

    Scale shape (10⁹ vectors): the shared :func:`_lloyd` trainer keyed
    by ``sub`` — a training set of at most ``_LOCAL_MAX_TRAIN`` cells
    ((id, sub) rows × dsub) trains in one Python task; above that each
    pass is one map assignment against the broadcast m·k-codeword row
    plus one (sub, code, j) mean shuffle. Pass ``train``
    (a deterministic id-mod sample) so Lloyd passes touch a fraction of
    the corpus; only the single final encode pass reads every vector —
    at 100 TB run it once at ingest (:func:`pq_encode`) and store the
    codes as columns, exactly like :func:`assign_lists` for IVF (PQ
    composes with IVF: coarse list for pruning, PQ codes for in-list
    ADC scoring).
    """
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    dsub = dim // m
    tcomp = None
    if train is not None:
        tcomp = _require_rows(
            _pq_comp(train, dsub, id_col),
            train.select(id_col),
            "pq_train: the training frame is empty — codebooks would be "
            "empty and pq_encode would raise on every input row; pass a "
            "non-empty train sample or train=None",
        )
    # Seeds are ONE global k-row list (the k smallest training ids), so
    # the dense 0..k-1 code IS the seed's rank. Rank order == seed-id
    # order, so the lowest-code tie-break equals the lowest-seed-id one,
    # and codes are dense from the first pass — pq_encode's int cast
    # stays safe against any hash-derived id space.
    return _lloyd(
        _pq_comp(exploded, dsub, id_col), tcomp, k, iters, id_col,
        op="pq_train", code="code", idx="j", dense_codes=True, key="sub",
    )


def pq_adc_topk(
    codes: DataFrame,
    cents: DataFrame,
    q_exploded: DataFrame,
    dsub: int,
    k_top: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: queries stay full
    precision, the corpus is its codes. Per query, one lookup table of
    exact integer squared L2 between each query subvector and each
    codeword (``q × m × k`` tiny rows, broadcast); each corpus vector's
    approximate distance is then the SUM of m table lookups — an
    equi-join on (sub, code) + hash agg, never touching the original
    vectors. Returns ``(query_id, neighbor_id, rank, adc_d6)`` with
    ascending integer distance, vec_id tiebreak (cross-engine exact: the
    distance is integer arithmetic end to end).

    Scale shape: the corpus side streams through map tasks (codes are
    m longs per vector — at rest, m bytes); the only shuffle is the
    (query_id, vec_id) partial-agg + the top-k window keyed by query_id.
    Production recall discipline: treat ADC top-k as a shortlist and
    re-rank it with exact distances over the float vectors (the
    :func:`quantize_embeddings` int8 shortlist rule — see
    scripts/recall_quantized.py for the measured thresholds)."""
    lut = _pq_lut(q_exploded, cents, dsub, id_col)
    adist = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum("pd6").alias("adc_d6"))
    )
    return _adc_topk(adist, k_top, id_col)


def _pq_lut(q_exploded: DataFrame, cents: DataFrame, dsub: int, id_col: str) -> DataFrame:
    """Per-query ADC lookup table: exact integer squared L2 between every
    query subvector and every codeword — (query_id, sub, code, pd6),
    q × m × k tiny rows. Shared by :func:`pq_adc_topk` and
    :func:`ivf_pq_topk` so the two operators cannot diverge."""
    qcomp = _pq_comp(q_exploded, dsub, id_col).select(
        F.col(id_col).alias("query_id"), "sub", "j", F.col("x").alias("qx")
    )
    qdiff = F.col("qx") - F.col("c6")
    return (
        qcomp.join(F.broadcast(cents), ["sub", "j"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(qdiff * qdiff).alias("pd6"))
    )


def _adc_topk(adist: DataFrame, k_top: int, id_col: str) -> DataFrame:
    """Ascending-distance top-k with the deterministic id tiebreak."""
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d6"), F.asc(id_col))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "adc_d6")
    )


def rerank_exact(
    shortlist: DataFrame,
    exploded: DataFrame,
    q_exploded: DataFrame,
    k_top: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact re-rank of an approximate shortlist — the recall discipline
    every quantized search here documents (int8 and PQ): take an
    approximate top-N (``shortlist`` = (query_id, neighbor_id, ...) from
    :func:`pq_adc_topk` / :func:`ivf_topk`), recompute EXACT integer
    squared L2 for only those pairs from the full-precision long-format
    vectors, and keep the exact top-``k_top``. Cost is |shortlist|·dim
    join rows — shortlist-bounded, independent of corpus size, so the
    approximate stage sets the touch budget and this stage buys back its
    recall. Returns ``(query_id, neighbor_id, rank, d6)``. Pairs are
    deduplicated first — shortlists built by unioning several
    approximate searches may repeat a pair, which would otherwise
    double-count its summed distance."""
    pairs = shortlist.select("query_id", "neighbor_id").distinct()
    qside = q_exploded.select(
        F.col(id_col).alias("query_id"), "i", F.col("x").alias("qx")
    )
    # pairs × dim via the query side (tiny — broadcast), then one equi-join
    # against the corpus long format on (neighbor_id, i)
    nside = exploded.select(F.col(id_col).alias("neighbor_id"), "i", "x")
    diff = F.col("qx") - F.col("x")
    d = (
        nside.join(F.broadcast(pairs.join(qside, "query_id")), ["neighbor_id", "i"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(diff * diff).alias("d6"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("neighbor_id"))
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "rank", "d6")
    )


def ivf_pq_topk(
    codes: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    ivf_cents: DataFrame,
    q_exploded: DataFrame,
    dsub: int,
    nprobe: int = 2,
    k_top: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF+PQ composed search (the IVFADC scheme of Jégou et al.
    TPAMI'11 §IV): rank coarse lists by ASCENDING exact query↔centroid
    squared L2 — the same metric :func:`kmeans_fixed` assigns lists and
    ADC approximates, so the query's own list is always probed first
    (a descending-dot ranking, as :func:`_ivf_fixed_topk` uses for its
    COSINE metric, can prune the query's own list here: unequal centroid
    norms let a far high-norm centroid out-dot the nearest one) — probe
    the top ``nprobe``, then ADC-score ONLY the probed lists' members
    from their PQ codes. Probing every list reproduces
    :func:`pq_adc_topk` bit for bit (pinned in tests). At 10⁹ vectors
    this is the standard memory budget: coarse prune cuts candidates
    ~nprobe/k_lists, and each surviving candidate costs m code lookups —
    the corpus's float vectors are never read at query time."""
    q = q_exploded.select(
        F.col(id_col).alias("query_id"),
        F.col("i").alias("qi"),
        F.col("x").alias("qx"),
    )
    cdiff = F.col("qx") - F.col("c6")
    pscore = (
        ivf_cents.join(F.broadcast(q), F.col("qi") == F.col("i"))
        .groupBy("query_id", "list_id")
        .agg(F.sum(cdiff * cdiff).alias("cd"))
    )
    wprobe = W.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("list_id"))
    probe = (
        pscore.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "list_id")
    )
    lut = _pq_lut(q_exploded, cents, dsub, id_col)
    adist = (
        codes.join(assign, id_col)
        .join(F.broadcast(probe), "list_id")  # restricts (query, candidate)
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum("pd6").alias("adc_d6"))
    )
    return _adc_topk(adist, k_top, id_col)


def pq_encode(
    df: DataFrame,
    cents: DataFrame,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Ingest-time PQ encoding against STORED codebooks — the
    :func:`assign_lists` analog for product quantization: train once
    (:func:`pq_train` → persist ``cents`` as a table), then encode every
    new batch here and land ``out_col`` (``array<int>`` of m codes,
    ordered by subspace) as a stored column for :func:`pq_adc_topk` /
    :func:`ivf_pq_topk` search. One map pass (:func:`_encode`) over the
    batch's own vectors: the fixed-point array is sliced per subspace
    and each slice takes the training loop's :func:`_nearest` rule
    against that subspace's codewords — so re-encoding training vectors
    reproduces their training codes (pinned in tests). A NULL vector,
    one that is not m·``dsub`` wide, or empty codebooks RAISE in-plan
    rather than yielding short or missing codes."""
    m = (F.array_max(F.transform(F.col("__cb"), lambda c: c["sub"])) + 1).cast("int")
    out = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda s: _nearest(
            F.slice(F.col("__xs"), s * dsub + 1, dsub), "code", "pq_encode", "sub", s
        ).cast("int"),
    ).alias(out_col)
    cb = _codebook(cents, ["sub", "code"], "pq_encode", "j")
    return _encode(df, cb, id_col, vec_col, m * dsub, out, "pq_encode")


def pq_codes_long(
    df: DataFrame, id_col: str = "vec_id", codes_col: str = "pq_codes"
) -> DataFrame:
    """Stored ``array<int>`` PQ codes → the (id, sub, code) long format
    the search operators take — `posexplode`, no shuffle."""
    return df.select(
        id_col, F.posexplode(F.col(codes_col)).alias("sub", "code")
    ).withColumn("code", F.col("code").cast("bigint"))


# ---------------------------------------------------------------------------
# Stored IVF-PQ index (parquet persistence round-trip)
# ---------------------------------------------------------------------------

from typing import NamedTuple  # noqa: E402 — grouped with its consumers


class IvfPqIndex(NamedTuple):
    """A stored IVFADC index: the four frames :func:`ivf_pq_topk` needs,
    persistable between ingest and query time (the :class:`~kafka_workers_spark.
    operators.text.Bm25Index` shape for the embedding side; the
    reference's analog is again its stored offsets contract —
    impl/offsets/DefaultOffsetsState.java, state that survives restart).
    ``ivf_cents``/``pq_cents`` are model-sized, ``codes``/``assign`` are
    corpus-sized but at m·log2(k) bits + one list id per vector —
    the at-rest compressed representation, 30-60× smaller than the
    float vectors they index."""

    ivf_cents: DataFrame  # list_id, i, c6
    pq_cents: DataFrame  # sub, code, j, c6
    codes: DataFrame  # id_col, sub, code
    assign: DataFrame  # id_col, list_id
    dsub: int
    id_col: str


#: ann_write_index layout version — bump on any table-schema change
_ANN_INDEX_VERSION = 1


def ann_write_index(index: IvfPqIndex, path: str, mode: str = "error") -> None:
    """Persist the index as five parquet tables under ``path`` (four
    frames + a one-row meta table carrying ``dsub``, ``id_col`` and a
    layout version). Build at ingest (kmeans_fixed → assign_lists →
    pq_train), write once; every later search starts from
    :func:`ann_read_index` without re-training or re-encoding."""
    index.ivf_cents.write.mode(mode).parquet(f"{path}/ivf_cents")
    index.pq_cents.write.mode(mode).parquet(f"{path}/pq_cents")
    index.codes.write.mode(mode).parquet(f"{path}/codes")
    index.assign.write.mode(mode).parquet(f"{path}/assign")
    store.write_meta(
        index.ivf_cents.sparkSession,
        path,
        "id_col string, dsub int",
        (index.id_col, index.dsub),
        _ANN_INDEX_VERSION,
        mode,
    )


def ann_read_index(spark, path: str) -> IvfPqIndex:
    """Load a stored index written by :func:`ann_write_index`. One
    driver-side read of the one-row meta table (the pinned-param
    pattern); the four data frames stay lazy parquet scans — a probed
    search's broadcast list filter reaches the codes scan as a
    partition-prunable join."""
    meta = store.read_meta(spark, path, _ANN_INDEX_VERSION, "ann_read_index")
    return IvfPqIndex(
        ivf_cents=spark.read.parquet(f"{path}/ivf_cents"),
        pq_cents=spark.read.parquet(f"{path}/pq_cents"),
        codes=spark.read.parquet(f"{path}/codes"),
        assign=spark.read.parquet(f"{path}/assign"),
        dsub=meta.dsub,
        id_col=meta.id_col,
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid retrieval)
# ---------------------------------------------------------------------------

#: fixed-point scale for RRF contributions: 10^12 DIV (k0 + rank) keeps
#: ~7 exact significant digits at k0=60 while Σ over any plausible number
#: of lists stays far inside int64 — the house closed-form-integer rule,
#: so the fused ranking replays bit for bit in any engine with integer
#: division
RRF_SCALE = 10**12


def rrf_fuse(
    rankings: list[DataFrame],
    top_k: int,
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (Cormack, Clarke &
    Büttcher, SIGIR 2009 — the standard hybrid-retrieval combiner:
    lexical BM25 + dense cosine, or any mix of rankers): each list
    contributes ``1/(k0 + rank)`` for every (query, neighbor) it ranks,
    and neighbors order by the summed score. Scores are EXACT bigints
    (``RRF_SCALE DIV (k0 + rank)`` per list, integer sum), so the fused
    ranking is engine-replayable — ties break on ``id_col``. Returns
    ``(query_col, id_col, rrf_fp, n_lists, rank)`` with ``rank <=
    top_k``; ``n_lists`` counts how many input lists ranked the pair
    (the agreement signal hybrid evaluation wants).

    Scale shape: the inputs are already top-k-per-query tables (tiny
    relative to their corpora — the expensive work happened in the
    rankers), so the union + one (query, neighbor) aggregate + one
    per-query window shuffle a few k rows per query regardless of corpus
    size. Reference analog: the reference merges per-partition streams
    by timestamp (MergerTest); this merges per-ranker streams by rank —
    both are N-way ordered combiners over payload-free keys."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k0 < 1:
        raise ValueError(f"rrf_fuse: k0 ({k0}) must be >= 1")
    if top_k < 1:
        raise ValueError(f"rrf_fuse: top_k ({top_k}) must be >= 1")
    from functools import reduce

    parts = [r.select(query_col, id_col, rank_col) for r in rankings]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    fused = unioned.groupBy(query_col, id_col).agg(
        F.sum(F.expr(f"{RRF_SCALE} DIV ({k0} + {rank_col})"))
        .cast("long")
        .alias("rrf_fp"),
        F.count("*").cast("long").alias("n_lists"),
    )
    w = W.partitionBy(query_col).orderBy(F.desc("rrf_fp"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(query_col, id_col, "rrf_fp", "n_lists", "rank")
    )


def ann_append_index(
    spark,
    path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into a stored IVFADC index (the streaming-
    ingest shape :func:`ann_write_index`'s build-once story needs for a
    LIVE corpus): encode a NEW vector batch against the STORED centroids
    and codebooks — no retraining, no re-encode of landed rows — and
    append its ``codes``/``assign`` rows. Because :func:`assign_lists`
    and :func:`pq_encode` are deterministic integer arithmetic against
    stored models, append == rebuild-at-the-same-models, pinned in
    tests/test_similarity.py (searches over the appended index equal
    searches over an index whose codes were computed in one pass).

    Exactly-once without a marker: ids already in ``assign`` REFUSE
    (the batch landed — appending again would double-count ADC terms);
    ids in ``codes`` but not ``assign`` are a crashed prior append's
    orphans — their code rows are SKIPPED after VERIFYING they equal
    this batch's recomputation (the deterministic encoder reproduces
    them byte-for-byte; a retried id arriving with a DIFFERENT vector
    refuses instead of silently keeping stale codes under a fresh
    assignment), and the batch completes by writing ``assign`` last,
    healing the index. Intra-batch duplicate ids also refuse. Write
    order is the safety argument: codes first (orphan codes are
    unreachable — search probes ``assign`` for list membership, so a
    crash leaves the index consistent, never wrong), ``assign`` last as
    the commit point.

    Scale shape: one broadcast pass per model table over the BATCH
    only; the landed corpus is touched via two id semi-joins (the
    incremental-dedup rule: never rescan the corpus)."""
    idx = ann_read_index(spark, path)
    id_col = idx.id_col
    batch = new_df.select(id_col, vec_col)
    # intra-batch duplicate ids would write duplicate codes/assign rows —
    # exactly the ADC double-count the landed guard below exists to
    # prevent (review r12)
    dup = (
        batch.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "ann_append_index: batch contains duplicate ids — deduplicate "
            "upstream (duplicate rows would double-count ADC terms)"
        )
    landed = batch.join(idx.assign.select(id_col), id_col, "left_semi").limit(1)
    if landed.count():
        raise ValueError(
            "ann_append_index: batch contains ids already in the index's "
            "assign table — re-appending would duplicate ADC terms; land "
            "new ids only (or rebuild to replace vectors)"
        )
    assigned = assign_lists(batch, idx.ivf_cents, id_col=id_col, vec_col=vec_col)
    encoded = pq_encode(batch, idx.pq_cents, idx.dsub, id_col=id_col, vec_col=vec_col)
    codes_long = pq_codes_long(encoded, id_col=id_col)
    # a crashed prior append's orphan codes are skipped ONLY after
    # verifying they match this batch's recomputation — a retried id that
    # arrives with a DIFFERENT vector would otherwise keep stale codes
    # under a fresh assignment, silently corrupting search (review r12)
    orphan_rows = idx.codes.join(batch.select(id_col), id_col, "left_semi")
    drift = (
        orphan_rows.alias("o")
        .join(
            codes_long.alias("n"),
            (F.col(f"o.{id_col}") == F.col(f"n.{id_col}"))
            & (F.col("o.sub") == F.col("n.sub")),
            "left",
        )
        .filter(
            F.col(f"n.{id_col}").isNull() | (F.col("o.code") != F.col("n.code"))
        )
        .limit(1)
        .count()
    )
    if drift:
        raise ValueError(
            "ann_append_index: orphan codes from a crashed prior append do "
            "not match this batch's vectors — the retried ids carry "
            "DIFFERENT embeddings; remove the orphan code rows (or rebuild) "
            "before re-landing"
        )
    fresh_codes = codes_long.join(
        idx.codes.select(id_col).distinct(), id_col, "left_anti"
    )
    fresh_codes.write.mode("append").parquet(f"{path}/codes")
    assigned.select(id_col, "list_id").write.mode("append").parquet(f"{path}/assign")


# ---------------------------------------------------------------------------
# Greedy k-center coreset (diverse-subset selection — Gonzalez 1985)
# ---------------------------------------------------------------------------


def kcenter_coreset(
    vecs: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "v6",
) -> DataFrame:
    """Greedy k-center selection over fixed-point embeddings (Gonzalez,
    "Clustering to minimize the maximum intercluster distance", TCS 1985
    — the classic 2-approximation): seed with the minimum-id point, then
    ``k−1`` times add the point FARTHEST from the selected set (max of
    min squared-L2 distance, ties by ascending id). This is the standard
    diverse-subset / coreset draw a training-data pipeline runs to pick
    maximally-spread exemplars (dedup canonical pools, eval probes,
    annotation batches) — the opposite bias of similarity search.

    All arithmetic is exact int64: vectors are fixed-point bigints
    (operators.dedup.embedding_fixed) and the distance is
    ``Σ (a_i − b_i)²`` — at the 10⁶ scale with |x| ≤ ~1, a 64-dim
    squared distance is ≤ ~2.6·10¹⁴, far inside int64 — so every
    selection (and every tie) replays bit-identically on any engine;
    the oracle unrolls the same k rounds as CTEs
    (:func:`sql_kcenter_coreset`).

    Returns ``(round, center_id, radius2)`` — one row per selection in
    order; ``radius2`` is the selected point's min-distance to the
    PREVIOUS centers (the coverage radius the next round removes; NULL
    for the seed). The classic k-center guarantee: after round i, every
    point is within ``radius2(i)`` of some center.

    Scale shape (10⁹ vectors): each round is one broadcast of the single
    new center row, one map-side LEAST update of the (id, vector, d2)
    frame, and one TakeOrderedAndProject(1) reduction — no shuffle of
    the corpus, k linear passes total. The min-distance frame is
    ``localCheckpoint``ed per round — MANDATORY, not an optimization
    (the connected_components rationale): round i references round i−1
    TWICE (the argmax pick + the LEAST fold), so the logical plan
    doubles per round and driver analysis alone OOMs near k ≈ 8 without
    truncation. The interpreted array-lambda distance is one evaluation
    per point per round; swap in the dot_fixed_fast pandas-UDF variant
    past ~10⁸ rows/pass."""
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")

    def dist2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    pts = vecs.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    seed = (
        pts.orderBy(F.col("__id").asc())
        .limit(1)
        .select(
            F.col("__id").alias("center_id"),
            F.col("__v").alias("__cv"),
            F.lit(None).cast("bigint").alias("radius2"),
            F.lit(0).cast("bigint").alias("round"),
        )
        .localCheckpoint(eager=True)
    )
    centers = [seed]
    mind = (
        pts.crossJoin(F.broadcast(seed.select("__cv")))
        .select("__id", "__v", dist2(F.col("__v"), F.col("__cv")).alias("__d2"))
        .localCheckpoint(eager=True)
    )
    for i in range(1, k):
        nxt = (
            mind.orderBy(F.col("__d2").desc(), F.col("__id").asc())
            .limit(1)
            .select(
                F.col("__id").alias("center_id"),
                F.col("__v").alias("__cv"),
                F.col("__d2").alias("radius2"),
                F.lit(i).cast("bigint").alias("round"),
            )
            .localCheckpoint(eager=True)
        )
        centers.append(nxt)
        if i < k - 1:
            superseded = mind
            mind = (
                mind.crossJoin(F.broadcast(nxt.select("__cv")))
                .select(
                    "__id",
                    "__v",
                    F.least(
                        F.col("__d2"), dist2(F.col("__v"), F.col("__cv"))
                    ).alias("__d2"),
                )
                .localCheckpoint(eager=True)
            )
            release(superseded)
    # only the k center checkpoints stay: the returned plan reads them
    release(mind)
    out = centers[0]
    for c in centers[1:]:
        out = out.unionByName(c)
    return out.select("round", "center_id", "radius2")


def sql_kcenter_coreset(
    k: int,
    dim: int,
    vec_fixed_expr: str,
    id_col: str = "vec_id",
    from_clause: str = "FROM embeddings",
) -> str:
    """DuckDB rendering of :func:`kcenter_coreset`: the identical k
    greedy rounds unrolled as CTEs (the pagerank/kcore oracle
    discipline) — same seed, same LEAST-folded min distances, same
    (d2 DESC, id ASC) selection order."""

    def d2(a: str, b: str) -> str:
        return (
            f"CAST(list_sum([(({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])"
            f" FOR i IN generate_series(1, {dim})]) AS BIGINT)"
        )

    ctes = [
        f"v AS (SELECT {id_col} AS vid, {vec_fixed_expr} AS v6 {from_clause})",
        "c0 AS (SELECT vid AS cid, v6 AS cv FROM v ORDER BY vid LIMIT 1)",
        f"d0 AS (SELECT v.vid, v.v6, {d2('v.v6', 'c0.cv')} AS d2 FROM v CROSS JOIN c0)",
    ]
    for i in range(1, k):
        prev = f"d{i - 1}"
        ctes.append(
            f"c{i} AS (SELECT vid AS cid, v6 AS cv, d2 AS r2 FROM {prev}"
            f" ORDER BY d2 DESC, vid ASC LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"d{i} AS (SELECT d.vid, d.v6,"
                f" LEAST(d.d2, {d2('d.v6', f'c{i}.cv')}) AS d2"
                f" FROM {prev} d CROSS JOIN c{i})"
            )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, cid AS center_id,"
        " CAST(NULL AS BIGINT) AS radius2 FROM c0"
    ]
    for i in range(1, k):
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS round, cid AS center_id,"
            f" CAST(r2 AS BIGINT) AS radius2 FROM c{i}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL ".join(selects)
