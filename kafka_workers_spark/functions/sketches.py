"""Mergeable sketch aggregates: the incremental-rollup surface of a
100 TB analytics pipeline.

At scale you do not re-scan history to answer "distinct users this
quarter" — you keep a per-day (or per-partition) SKETCH column and merge
sketches. HLL register-merge is associative and commutative, so a union
of partial sketches estimates the same set within the same error bound
no matter how the data was partitioned (DataSketches' sparse→dense
representation transitions make the merged bytes — and the last decimals
of the estimate — differ slightly from a single pass, but the relative
standard error bound is unchanged): rollups read only pre-aggregated
rows, never raw history. Spark exposes Apache DataSketches HLL
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate) natively — these
wrappers pin the engine's chosen defaults and shape the rollup pattern.

The reference framework has no aggregate surface at all (opaque payloads,
user tasks); this module is part of the engine's analytical extension,
like the dedup/similarity families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_workers_spark.cache import hold, pin, release

#: log2 of HLL register count: 4KB sketches, ~1.6% relative standard error
DEFAULT_LG_K = 12


def distinct_sketch(col: Column | str, lg_k: int = DEFAULT_LG_K) -> Column:
    """HLL sketch (binary, mergeable) of a column's distinct values —
    store this per partition/day instead of raw values."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_agg(c, F.lit(lg_k))


def merge_distinct_sketches(
    sketch_col: Column | str, allow_different_lg_k: bool = False
) -> Column:
    """Union previously-stored sketches (register max-merge — associative,
    so any grouping of partials estimates within the same bound).

    ``allow_different_lg_k=False`` (default) makes a precision mismatch
    ERROR instead of silently downgrading the union to the lowest
    precision present — a backfill written at a smaller lg_k would
    otherwise quietly void the error bound of every rollup touching it.
    """
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.hll_union_agg(c, F.lit(allow_different_lg_k))


def distinct_estimate(sketch_col: Column | str) -> Column:
    """Cardinality estimate from a sketch column (bigint)."""
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.hll_sketch_estimate(c)


def incremental_distinct_rollup(
    df: DataFrame,
    partition_cols: list[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
    out: str = "distinct_sketch",
) -> DataFrame:
    """The store-this shape: one mergeable sketch row per partition.

    Downstream, any partition subset rolls up without touching raw data::

        daily = incremental_distinct_rollup(events, ["day"], "user_id")
        q = daily.where(...).agg(
            distinct_estimate(merge_distinct_sketches("distinct_sketch"))
              .alias("distinct_users"))
    """
    return df.groupBy(*partition_cols).agg(distinct_sketch(value_col, lg_k).alias(out))


def approx_quantiles(
    col: Column | str, probabilities: list[float], accuracy: int = 10_000
) -> Column:
    """Mergeable approximate quantiles (Greenwald-Khanna variant behind
    percentile_approx): rank error <= 1/accuracy. The partial+final merge
    is automatic — partition-count independent within the error bound."""
    c = F.col(col) if isinstance(col, str) else col
    return F.percentile_approx(
        c, F.array(*[F.lit(p) for p in probabilities]), F.lit(accuracy)
    )


def heavy_hitters(
    df: DataFrame, cols: list[str], k: int, min_count: int = 1, out: str = "hh_count"
) -> DataFrame:
    """Exact top-k frequent values with scale-correct shape: the groupBy
    count runs with map-side partial aggregation (shuffle carries one
    partial count per distinct value per partition, never raw rows) and
    the top-k is a TakeOrdered, not a global sort. Deterministic
    tiebreak on the value itself. ``out`` names the count column
    (collision-checked against the grouping columns)."""
    if out in cols:
        raise ValueError(f"count column name {out!r} collides with a grouping column")
    counts = df.groupBy(*cols).agg(F.count("*").alias(out)).filter(F.col(out) >= min_count)
    return counts.orderBy(F.desc(out), *[F.asc(c) for c in cols]).limit(k)


def frequent_items(
    df: DataFrame,
    col: str,
    capacity: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Approximate top-k frequent values in BOUNDED memory — the mergeable
    companion to :func:`heavy_hitters` for ultra-high-cardinality columns,
    where even the exact groupBy's per-partition partial map is the
    problem (one entry per distinct value per partition).

    Misra-Gries summaries (batched form: fold each Arrow batch's
    value_counts into <= ``capacity`` counters, subtracting the minimum
    count whenever the table overflows), one per partition, then an
    exact count-sum merge — summing MG underestimates is itself a valid
    MG merge, so the guarantees compose: every item with true count
    > n/(capacity+1) is PRESENT, and for each returned item
    ``count_min <= true count <= count_max`` (count_max adds the total
    decrement mass, tracked per partition and summed).

    Values are compared as strings (cast before the sketch) so one
    implementation serves any input type. The per-partition summary is
    <= capacity rows — the merge input is partitions x capacity rows, not
    data-sized.
    """
    import pandas as pd

    src = df.select(F.col(col).cast("string").alias("__v"))

    def mg(batches):
        counters: dict[str, int] = {}
        dec = 0
        for pdf in batches:
            vc = pdf["__v"].dropna().value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            while len(counters) > capacity:
                m = min(counters.values())
                dec += m
                counters = {key: c - m for key, c in counters.items() if c > m}
        out = pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "cnt": [int(c) for c in counters.values()] + [0],
                "dec": [0] * len(counters) + [dec],
            }
        )
        yield out

    # two consumers (bound aggregate + count merge) — pin the tiny
    # summaries (<= partitions x capacity rows) so the data scan runs
    # once, with lineage retained (ARCHITECTURE.md §4 rule 2a)
    summaries = pin(
        src.mapInPandas(mg, "item string, cnt long, dec long"),
        "sketches.frequent_items.summaries",
    )
    # the decrement bound is global: broadcast the one-row aggregate back
    bound = summaries.agg(F.sum("dec").alias("__bound"))
    merged = (
        summaries.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("count_min"))
        .crossJoin(F.broadcast(bound))
        .select(
            "item",
            "count_min",
            (F.col("count_min") + F.col("__bound")).alias("count_max"),
        )
    )
    return merged.orderBy(F.desc("count_min"), F.asc("item")).limit(k)


def _dense_from_sparse(entries: Column, n: int, key: str, val: str) -> Column:
    """Pack SORTED sparse ``struct<key, val>`` entries into a dense
    length-``n`` ``array<bigint>`` (missing indices → 0) in LINEAR
    sketch-sized work: each entry emits its gap-fill of zeros plus its
    own value, one ``flatten`` stitches them, one tail pad completes the
    array — O(n) after the aggregate's O(s log s) ``array_sort``.

    This replaced an ``element_at(map, i)`` transform over
    ``sequence(0, n-1)``: Spark's map ``element_at`` is a linear scan of
    ``ArrayBasedMapData``, so that assembly was O(n × distinct_keys) —
    quadratic in sketch size — and measured 169 s cold at sf0.1 for the
    2^23-bit Bloom build (VERDICT r07 #1). ``F.get`` here is the
    0-based ARRAY accessor (O(1), NULL out of bounds), not the map one.

    Preconditions (the build aggregates guarantee both): ``entries`` is
    sorted ascending by ``key``, keys are distinct and in ``[0, n)``.
    """
    zero = F.lit(0).cast("bigint")
    body = F.flatten(
        F.transform(
            entries,
            lambda x, i: F.concat(
                F.array_repeat(
                    zero,
                    (
                        x[key] - F.coalesce(F.get(entries, i - 1)[key], F.lit(-1)) - 1
                    ).cast("int"),
                ),
                F.array(x[val].cast("bigint")),
            ),
        )
    )
    tail = F.array_repeat(
        zero,
        (
            F.lit(n - 1)
            - F.coalesce(F.get(entries, F.size(entries) - 1)[key], F.lit(-1))
        ).cast("int"),
    )
    return F.concat(body, tail)


def bloom_build(
    df: DataFrame,
    col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable Bloom membership sketch: one row per group holding the
    filter as ``words array<bigint>`` (``n_bits``/64 longs) plus its
    ``n_bits``/``n_hashes`` parameters — the fixed-size answer to "have
    we seen this value before?" when the value set is too large to
    broadcast exactly (historical-corpus membership, cross-run URL
    dedup, decontamination against a huge eval union). One-sided error:
    absent values may false-positive at ~(1 - e^(-kn/m))^k (16 bits/item
    at k=4 → ~0.24%), present values NEVER false-negative — so a probe
    used for dropping rows over-drops by at most the FP rate and never
    leaks a true member.

    Build shape: positions are ``pmod(xxhash64(value, j), n_bits)`` for
    the ``n_hashes`` seeds — deterministic, codegen — then one hash
    aggregate ORs each word's bits and one per-group gap-fill assembly
    (:func:`_dense_from_sparse`) packs the sorted sparse (word, bits)
    rows into the dense array in O(s log s + n_words) — genuinely
    sketch-sized, never data-sized or sketch-squared. At 1M bits the
    sketch is 128 KB — hundreds of groups still broadcast comfortably.
    """
    if n_bits % 64 != 0:
        raise ValueError(f"n_bits ({n_bits}) must be a multiple of 64")
    if n_bits > 1 << 28:
        # 256M bits = a 32 MB array per sketch row: past any sane
        # broadcast size, and the (linear) dense assembly still builds
        # a 4M-element array in one task per group — use more groups,
        # more hashes, or an exact digest join instead of pushing m this far
        raise ValueError(f"n_bits ({n_bits}) exceeds the 2^28 sketch-row bound")
    group_cols = list(group_cols or [])
    n_words = n_bits // 64
    c = F.col(col)
    pos = F.explode(
        F.array(*[F.pmod(F.xxhash64(c, F.lit(j)), F.lit(n_bits)) for j in range(n_hashes)])
    ).alias("__pos")
    words = (
        df.where(c.isNotNull())
        .select(*group_cols, pos)
        .groupBy(*group_cols, F.expr("__pos DIV 64").alias("__word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT)))"
            ).alias("__bits")
        )
    )
    # pack sparse (word, bits) rows into the dense word array once per
    # group — linear gap-fill assembly (see _dense_from_sparse)
    packed = (
        words.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("__word", "__bits"))).alias("__s"))
        .select(
            *group_cols,
            _dense_from_sparse(F.col("__s"), n_words, "__word", "__bits").alias(
                "words"
            ),
            F.lit(n_bits).alias("n_bits"),
            F.lit(n_hashes).alias("n_hashes"),
        )
    )
    return packed


def bloom_contains(col: str, n_bits: int, n_hashes: int, words_col: str = "words") -> Column:
    """Probe expression against a joined-in ``words_col`` array: true iff
    every hash position's bit is set. A static conjunction of
    ``n_hashes`` codegen'd array lookups — row-local, no explode, no
    shuffle; pair with a broadcast join on the sketch row
    (:func:`bloom_probe` does exactly that). ``col`` is a column NAME
    (the expression is built as SQL text so the shift amount stays a
    single codegen expression)."""
    checks = []
    for j in range(n_hashes):
        p = f"pmod(xxhash64({col}, {j}), CAST({n_bits} AS BIGINT))"
        w = f"element_at({words_col}, CAST(({p}) DIV 64 AS INT) + 1)"
        b = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
        checks.append(f"(({w} & {b}) != 0)")
    return F.expr(" AND ".join(checks))


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    out: str = "might_contain",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``df`` plus a boolean ``out`` column: whether each row's ``col``
    might be in the Bloom sketch (false = definitely absent). The sketch
    (one small row per group) broadcasts; the probe itself is a pure map
    pass — the scale shape for filtering a 100 TB corpus against a
    history too large to broadcast exactly. Reads ``n_bits``/``n_hashes``
    from the sketch row (they parameterized the build, so a mismatched
    probe cannot silently use different hashing).

    The sketch's word array joins in under the reserved name
    ``__bloom_words`` (and is dropped again), so a probe frame that
    itself has a ``words`` column keeps it untouched. Pinning: this
    call holds the ``bloom`` argument (see :func:`_scheme`) — the hold
    lives on the caller's handle, so a long-lived driver probing many
    DISTINCT sketch frames should ``cache.release(sketch)`` once the
    consuming plan has materialized.
    """
    group_cols = list(group_cols or [])
    (n_bits, n_hashes), bloom = _scheme(bloom, _BLOOM_SCHEME, "bloom_probe", _BLOOM_TAIL)
    side = bloom.select(*group_cols, F.col("words").alias("__bloom_words"))
    if group_cols:
        # same silent-multiplication trap as the ungrouped branch, one
        # level down: two sketch rows for one group would duplicate every
        # probe row in that group through the left join
        dup = (
            bloom.groupBy(*group_cols).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "bloom_probe: some group has multiple sketch rows — "
                "bloom_merge them first"
            )
        joined = df.join(F.broadcast(side), group_cols, "left")
    else:
        # the ungrouped probe joins ONE sketch row per probe row; a
        # stored multi-row sketch table (e.g. per-benchmark rows not yet
        # merged) would silently multiply the probe N-fold through the
        # cross join and inflate every downstream count
        n_rows = bloom.count()  # cheap: held by _scheme
        if n_rows != 1:
            raise ValueError(
                f"bloom_probe: ungrouped probe needs exactly 1 sketch row, "
                f"got {n_rows} — bloom_merge them first (or pass group_cols)"
            )
        joined = df.crossJoin(F.broadcast(side))
    # NULL is not a member (build excludes it); a row whose group has no
    # sketch row is also definitely absent
    flag = F.when(
        F.col(col).isNotNull(),
        bloom_contains(col, n_bits, n_hashes, words_col="__bloom_words"),
    )
    return joined.withColumn(out, F.coalesce(flag, F.lit(False))).drop("__bloom_words")


def bloom_merge(blooms: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Union previously-stored Bloom sketches (bitwise OR per word) —
    associative and lossless, like the HLL register merge: per-day
    sketches roll up to any range without touching raw history. Work is
    sketch-sized (dense word arrays are zip_with-OR'ed pairwise through
    one aggregate). All inputs must share ONE (n_bits, n_hashes) scheme —
    OR-ing different geometries would silently void the FP bound, so a
    mix raises up front (the check reads only the tiny parameter
    columns, exactly like :func:`bloom_probe`).
    """
    group_cols = list(group_cols or [])
    (n_bits, _), blooms = _scheme(blooms, _BLOOM_SCHEME, "bloom_merge", _BLOOM_TAIL)
    n_words = n_bits // 64
    zeros = F.array_repeat(F.lit(0).cast("bigint"), n_words)
    return (
        blooms.groupBy(*group_cols)
        .agg(
            F.aggregate(
                F.collect_list("words"),
                zeros,
                lambda acc, ws: F.zip_with(acc, ws, lambda a, b: a.bitwiseOR(b)),
            ).alias("words"),
            F.first("n_bits").alias("n_bits"),
            F.first("n_hashes").alias("n_hashes"),
        )
    )


_BLOOM_SCHEME = ("n_bits", "n_hashes")
_BLOOM_TAIL = "parameter pairs; rebuild or merge with one scheme"
_CMS_SCHEME = ("width", "depth")


def _scheme(
    sketch: DataFrame, cols: tuple[str, str], caller: str, tail: str
) -> tuple[tuple, DataFrame]:
    """The sketch table's single scheme row over ``cols``; raises on a
    mix — a probe or merge under the wrong geometry returns garbage
    silently, so this is checked eagerly against the tiny param columns.
    The scheme read is an action, so the sketch is held with a
    lineage-preserving persist FIRST and the held handle returned —
    a sketch built inline (not yet stored) would otherwise be computed
    twice: once for the check, again inside the probe/merge plan.

    Hold ownership: the persist lands on the CALLER's DataFrame handle
    (Spark's CacheManager dedupes same-plan re-holds, so repeated probes
    of one sketch do not accumulate), which means the caller can — and
    in a long-lived driver probing many distinct sketch frames, should —
    ``cache.release(sketch)`` once the consuming plan has materialized.
    A failed scheme check releases any hold this call created."""
    held_here = not sketch.is_cached
    sketch = hold(sketch)
    try:
        params = sketch.select(*cols).distinct().collect()
        if len(params) != 1:
            raise ValueError(
                f"{caller}: sketch has {len(params)} distinct ({', '.join(cols)}) {tail}"
            )
    except Exception:
        if held_here:
            release(sketch)
        raise
    return params[0], sketch


def skew_report(
    df: DataFrame,
    cols: list[str],
    capacity: int = 1024,
    k: int = 10,
) -> DataFrame:
    """Pre-join skew diagnostic: the top-k heaviest key values of a
    prospective join/groupBy key with their corpus fraction — read this
    BEFORE shipping a join at 100 TB (a key holding 10% of rows makes
    one task do 10% of the shuffle; that's a salting candidate, see
    operators/relational.py's salted join). Bounded memory via
    :func:`frequent_items`; fractions use count_min (conservative:
    reported fraction never exceeds truth by more than the MG bound).
    """
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    items = frequent_items(df.select(key.alias("__key")), "__key", capacity=capacity, k=k)
    total = df.count()
    return items.select(
        F.col("item").alias("key"),
        "count_min",
        "count_max",
        (F.col("count_min") / F.lit(max(total, 1))).alias("fraction_min"),
    )


# --- Count-min sketch: the FREQUENCY analog of the Bloom family ---------
#
# bloom_build answers "have we seen it?"; cms_build answers "about how
# many times?" in the same fixed-size, mergeable, store-and-probe-later
# shape. Misra-Gries (frequent_items above) returns the top-k AT BUILD
# TIME but cannot answer a point query afterwards; a stored CMS row can
# be probed for ANY value months later and merged across runs by
# element-wise addition (Cormode & Muthukrishnan, J. Algorithms 2005).
# One-sided error: estimate >= true count always; overestimate is
# bounded by e*N/width with probability 1 - e^-depth.
#
# Hashing is the md5-prefix integer (functions/determinism.py's
# sample_coin trick, the DSIR discipline) rather than xxhash — 60-bit
# positive prefix, deterministic and replayable in ANSI SQL, so the
# whole build→probe chain is DuckDB-oracle-able bit for bit.


def _cms_pos(value: Column, d: int, width: int) -> Column:
    """Row d's bucket for ``value``: md5 over a fixed per-row prefix —
    the literal prefix makes the depth hashes independent while staying
    a single codegen'd expression per row."""
    h = F.md5(F.concat(F.lit(f"cms{d}:"), value))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % width


def cms_build(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable count-min frequency sketch: one row per group holding
    ``counts array<bigint>`` of ``depth * width`` cells (row-major) plus
    the ``width``/``depth`` scheme columns. Build shape mirrors
    :func:`bloom_build`: explode the ``depth`` cell indices per input
    row (deterministic, codegen), ONE hash aggregate sums cell hits
    (map-side partial — the shuffle carries at most depth × width
    partial rows per partition, never raw data), then a per-group
    assembly packs sparse (cell, count) rows into the dense array —
    sketch-sized work. At the 2048 × 4 default the row is 64 KB;
    thousands of groups still broadcast.

    Values are hashed as strings (cast first for other types so probe
    and build agree on the text form).
    """
    if width <= 0 or depth <= 0:
        raise ValueError(f"width ({width}) and depth ({depth}) must be positive")
    if width * depth > 1 << 22:
        # 4M cells = a 32 MB array per sketch row — past broadcast
        # sanity, and the dense assembly builds the whole array per
        # group; shard into more groups or use exact counts instead
        raise ValueError(f"width*depth ({width * depth}) exceeds the 2^22 cell bound")
    group_cols = list(group_cols or [])
    c = F.col(col)
    cell = F.explode(
        F.array(
            *[(F.lit(d * width) + _cms_pos(c, d, width)).alias("x") for d in range(depth)]
        )
    ).alias("__cell")
    cells = (
        df.where(c.isNotNull())
        .select(*group_cols, cell)
        .groupBy(*group_cols, "__cell")
        .agg(F.count("*").alias("__n"))
    )
    return (
        cells.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("__cell", "__n"))).alias("__s"))
        .select(
            *group_cols,
            _dense_from_sparse(F.col("__s"), depth * width, "__cell", "__n").alias(
                "counts"
            ),
            F.lit(width).alias("width"),
            F.lit(depth).alias("depth"),
        )
    )


def cms_estimate(
    col: str, width: int, depth: int, counts_col: str = "counts"
) -> Column:
    """Point-query expression against a joined-in ``counts_col``: the
    minimum over the ``depth`` row cells — row-local, codegen, no
    shuffle; pair with a broadcast join on the sketch row
    (:func:`cms_probe` does exactly that)."""
    cells = [
        F.element_at(
            F.col(counts_col), (F.lit(d * width) + _cms_pos(F.col(col), d, width) + 1).cast("int")
        )
        for d in range(depth)
    ]
    return cells[0] if depth == 1 else F.least(*cells)


def cms_probe(
    df: DataFrame,
    cms: DataFrame,
    col: str,
    out: str = "cms_count",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Annotate ``df`` with the sketch's count estimate for ``col``:
    broadcast-join the sketch row(s) (on ``group_cols`` when the sketch
    is per-group, else a single-row broadcast) and evaluate
    :func:`cms_estimate` row-locally. The scheme is read from the tiny
    param columns via the same eager held check as the Bloom family
    (:func:`_scheme` — mixed schemes would return garbage silently)."""
    group_cols = list(group_cols or [])
    (width, depth), cms = _scheme(
        cms, _CMS_SCHEME, "cms_probe", "schemes; rebuild or merge with one scheme"
    )
    # the sketch's array joins in under a RESERVED name so a probe frame
    # that already carries a `counts` column survives untouched (the
    # bloom_probe `__bloom_words` lesson, ADVICE r04)
    side = cms.select(*group_cols, F.col("counts").alias("__cms_counts"))
    joined = (
        df.join(F.broadcast(side), group_cols, "left")
        if group_cols
        else df.crossJoin(F.broadcast(side))
    )
    est = F.when(
        F.col("__cms_counts").isNotNull(),
        cms_estimate(col, width, depth, counts_col="__cms_counts"),
    ).otherwise(F.lit(0).cast("bigint"))
    return joined.withColumn(out, est).drop("__cms_counts")


def cms_merge(cms: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketch rows by element-wise addition — exact, associative,
    commutative, so per-day/per-shard sketches roll up in any order to
    precisely the sketch a single pass over the union would build
    (unlike HLL's representation-dependent bytes). Scheme mismatch
    raises via the same eager check as :func:`cms_probe`."""
    group_cols = list(group_cols or [])
    (width, depth), cms = _scheme(
        cms, _CMS_SCHEME, "cms_merge", "schemes; merge within one scheme"
    )
    return (
        cms.groupBy(*group_cols)
        .agg(
            F.aggregate(
                F.collect_list("counts"),
                F.array_repeat(F.lit(0).cast("bigint"), depth * width),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias("counts")
        )
        .select(*group_cols, "counts", F.lit(width).alias("width"), F.lit(depth).alias("depth"))
    )


# ---------------------------------------------------------------------------
# HDR-style quantile sketch (integer-exact, mergeable)
# ---------------------------------------------------------------------------


def _hdr_n_cells(sig_bits: int, max_bits: int) -> int:
    return (max_bits - sig_bits + 1) << sig_bits


def hdr_bucket(value: Column, sig_bits: int) -> Column:
    """Bucket index of a non-negative bigint under HDR bucketing (Tene's
    HdrHistogram scheme): values below ``2^(sig_bits+1)`` are EXACT
    (idx = value); above, the top ``sig_bits+1`` bits select
    ``shift·2^b + (value >> shift)`` with ``shift = msb - sig_bits`` —
    per-octave linear sub-buckets, relative error ≤ ``2^-sig_bits``.
    Pure integer arithmetic (the MSB comes from the binary string
    length, never libm log2), so DuckDB replays it bit-exactly via
    ``to_base(v, 2)``."""
    b = sig_bits
    e = (F.length(F.bin(value)) - 1).cast("int")
    shift = F.greatest(e - F.lit(b), F.lit(0))
    return F.when(value < F.lit(1 << (b + 1)), value.cast("bigint")).otherwise(
        (shift.cast("bigint") * (1 << b))
        + F.call_function("shiftrightunsigned", value, shift)
    )


def sql_hdr_bucket(expr: str, sig_bits: int) -> str:
    """DuckDB rendering of :func:`hdr_bucket`."""
    b = sig_bits
    shift = f"greatest(length(to_base({expr}, 2)) - 1 - {b}, 0)"
    return (
        f"CASE WHEN {expr} < {1 << (b + 1)} THEN CAST({expr} AS BIGINT) "
        f"ELSE CAST({shift} AS BIGINT) * {1 << b} + ({expr} >> {shift}) END"
    )


def sql_hdr_bucket_low(idx_expr: str, sig_bits: int) -> str:
    """DuckDB rendering of :func:`hdr_bucket_low`."""
    b = sig_bits
    shift = f"(({idx_expr}) // {1 << b} - 1)"
    return (
        f"CASE WHEN {idx_expr} < {1 << (b + 1)} THEN CAST({idx_expr} AS BIGINT) "
        f"ELSE CAST((({idx_expr}) - {shift} * {1 << b}) << {shift} AS BIGINT) END"
    )


def hdr_bucket_low(idx: Column, sig_bits: int) -> Column:
    """Lower bound (a real attainable value) of bucket ``idx`` — the
    deterministic quantile representative. Exact region: the value
    itself; log region: the sub-bucket base shifted back up."""
    b = sig_bits
    shift = (F.floor(idx / (1 << b)).cast("int") - 1).cast("int")
    base = idx - shift.cast("bigint") * (1 << b)
    return F.when(idx < F.lit(1 << (b + 1)), idx).otherwise(
        F.call_function("shiftleft", base, shift).cast("bigint")
    )


def hdr_build(
    df: DataFrame,
    col: str,
    sig_bits: int = 5,
    max_bits: int = 40,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable quantile sketch: one row per group holding ``counts
    array<bigint>`` of ``(max_bits - sig_bits + 1) · 2^sig_bits`` HDR
    buckets plus the scheme columns. Quantiles extracted from the sketch
    carry relative error ≤ ``2^-sig_bits`` (3% at the default 5 bits)
    at ANY corpus size — the fixed-size, probe-later, exactly-mergeable
    analog of bloom_build (membership) and cms_build (frequency), closing
    the sketch family's quantile gap. The build is one codegen'd bucket
    expression, one (group, bucket) hash aggregate with map-side
    partials — the shuffle carries at most cells-per-group partial rows,
    never values — and the same dense-array assembly as cms_build.

    NULLs are excluded; a NEGATIVE value or one at/above ``2^max_bits``
    raises IN-PLAN at first action (the package's lazy raise_error
    guard — a silently wrong bucket would corrupt every later quantile).
    At the 5/40 default the row is 1,152 cells ≈ 9 KB.
    """
    if not 1 <= sig_bits <= 10:
        raise ValueError(f"sig_bits ({sig_bits}) must be in [1, 10]")
    if not sig_bits + 1 <= max_bits <= 62:
        raise ValueError(f"max_bits ({max_bits}) must be in [{sig_bits + 1}, 62]")
    group_cols = list(group_cols or [])
    n_cells = _hdr_n_cells(sig_bits, max_bits)
    v = F.col(col).cast("bigint")
    guarded = F.when(
        (v < 0) | (v >= F.lit(1 << max_bits)),
        F.raise_error(
            F.lit(
                f"hdr_build({col}): value out of [0, 2^{max_bits}) — widen "
                "max_bits or filter first"
            )
        ).cast("bigint"),
    ).otherwise(hdr_bucket(v, sig_bits))
    cells = (
        df.where(v.isNotNull())
        .select(*group_cols, guarded.alias("__cell"))
        .groupBy(*group_cols, "__cell")
        .agg(F.count("*").alias("__n"))
    )
    return (
        cells.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("__cell", "__n"))).alias("__s"))
        .select(
            *group_cols,
            _dense_from_sparse(F.col("__s"), n_cells, "__cell", "__n").alias("counts"),
            F.lit(sig_bits).alias("sig_bits"),
            F.lit(max_bits).alias("max_bits"),
        )
    )


def hdr_merge(hdr: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketch rows by element-wise addition — exact, associative,
    commutative (the cms_merge contract): per-shard sketches roll up in
    any order to precisely the single-pass sketch. Mixed schemes raise
    in-plan (zip_with over unequal lengths would silently truncate)."""
    group_cols = list(group_cols or [])
    merged = hdr.groupBy(*group_cols).agg(
        F.aggregate(
            F.collect_list("counts"),
            F.array().cast("array<bigint>"),
            lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                F.zip_with(acc, x, lambda a, b: a + b)
            ),
        ).alias("counts"),
        F.count_distinct("sig_bits", "max_bits").alias("__schemes"),
        F.first("sig_bits").alias("sig_bits"),
        F.first("max_bits").alias("max_bits"),
    )
    guard = (
        F.when(F.col("__schemes") == 1, F.col("counts"))
        .when(
            # a group-less merge of ZERO sketch rows still yields one
            # global-aggregate row; name the real problem instead of the
            # misleading "mixed schemes"
            F.col("__schemes") == 0,
            F.raise_error(
                F.lit("hdr_merge: zero input sketch rows — nothing to merge")
            ).cast("array<bigint>"),
        )
        .otherwise(
            F.raise_error(
                F.lit("hdr_merge: mixed (sig_bits, max_bits) schemes — rebuild with one")
            ).cast("array<bigint>")
        )
    )
    return merged.select(*group_cols, guard.alias("counts"), "sig_bits", "max_bits")


def hdr_quantiles(
    hdr: DataFrame,
    qs: list[float],
    sig_bits: int,
    out: str = "quantiles",
) -> DataFrame:
    """Add ``n_values`` and ``out`` (array of bucket-lower-bound values,
    one per q in ``qs``) to each sketch row. Rank ``ceil(q·N)`` (clamped
    to ≥ 1) walks the counts array row-locally — sketch-sized work, no
    shuffle, no Python. Empty sketches yield NULL values. The returned
    values are exact integers, so a SQL oracle replays them bit for bit
    (agg_hdr_quantiles does).

    ``sig_bits`` must match the sketch's own scheme column — a mismatch
    would decode bucket indices with the wrong split and return
    plausible-looking but wrong integers, so it raises IN-PLAN at first
    action (the cms_probe/bloom_probe scheme contract)."""
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs ({qs}) must be fractions in [0, 1]")
    scheme_ok = F.when(F.col("sig_bits") == F.lit(sig_bits), F.col("counts")).otherwise(
        F.raise_error(
            F.lit(
                f"hdr_quantiles: sig_bits ({sig_bits}) does not match the "
                "sketch's scheme column"
            )
        ).cast("array<bigint>")
    )
    hdr = hdr.withColumn("counts", scheme_ok)
    n = F.aggregate(
        F.col("counts"), F.lit(0).cast("bigint"), lambda a, x: a + x
    ).alias("n_values")
    idxed = F.arrays_zip(
        F.col("counts"), F.sequence(F.lit(0), F.size("counts") - 1).alias("i")
    )
    def q_value(q: float) -> Column:
        rank = F.greatest(F.ceil(F.lit(float(q)) * F.col("n_values")).cast("bigint"), F.lit(1))
        found = F.aggregate(
            idxed,
            F.struct(
                F.lit(0).cast("bigint").alias("cum"), F.lit(-1).cast("int").alias("idx")
            ),
            lambda acc, s: F.when(acc["idx"] >= 0, acc).otherwise(
                F.struct(
                    (acc["cum"] + s["counts"]).alias("cum"),
                    F.when(acc["cum"] + s["counts"] >= rank, s["i"].cast("int"))
                    .otherwise(F.lit(-1))
                    .alias("idx"),
                )
            ),
            lambda acc: acc["idx"],
        )
        return F.when(
            F.col("n_values") > 0, hdr_bucket_low(found.cast("bigint"), sig_bits)
        )
    return hdr.withColumn("n_values", n).withColumn(
        out, F.array(*[q_value(q) for q in qs])
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch
# ---------------------------------------------------------------------------

#: md5-prefix width for KMV hashes: 13 hex chars = 52 bits, chosen so the
#: hash-as-integer converts to double EXACTLY (<= 2^53) — the distinct
#: estimate is then bit-reproducible cross-engine
KMV_HEX_CHARS = 13


def kmv_build(
    df: DataFrame,
    col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
    n_shards: int = 32,
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. RANDOM 2002;
    Beyer et al., "On Synopses for Distinct-Value Estimation Under
    Multiset Operations", SIGMOD 2007): per group, the ``k`` smallest
    md5-prefix hashes of the column's distinct values, as a SORTED
    ``array<string>`` of 13-hex-char prefixes. Unlike HLL registers the
    kept values are exact order statistics, so the sketch is

    - deterministic and engine-replayable (fixed-width lowercase hex
      sorts identically as string and as integer — the DuckDB oracle is
      a plain ORDER BY + LIMIT k),
    - EXACTLY mergeable: union the arrays, re-take the bottom k
      (:func:`kmv_merge` == whole-pass build, bit for bit — the
      cms/bloom shard-rollup contract), and
    - intersectable: bottom-k of a union is a uniform sample of the
      union, so Jaccard estimates fall out (:func:`kmv_jaccard`) —
      the multiset-operation power HLL lacks.

    Estimate quality: relative error ~ 1/sqrt(k-2) (k=256 → ~6%).
    Hash truncation to 52 bits makes colliding values indistinguishable
    (standard bounded-precision KMV; irrelevant until distinct counts
    approach 2^26, then widen — but past 2^26 distincts a 52-bit
    fraction still estimates fine, collisions only cap the EXACT arm).

    Shape at scale: the distinct pass is the one data-sized shuffle
    (required by the semantics); bottom-k then reduces in TWO hash
    aggregates — per (group, shard) partial bottom-k (``n_shards``
    bounds any single task's sort to distinct/n_shards values even for
    a single global group), then a flatten + re-sort of ``k·n_shards``
    survivors — never a whole-group collect, no window over one
    partition. Returns ``(*group_cols, hashes, n_distinct_capped, k)``
    where ``n_distinct_capped`` = size(hashes) (== exact distinct count
    while it is < k).
    """
    if k < 3:
        raise ValueError(f"k ({k}) must be >= 3 — the estimator divides by k-1")
    if n_shards < 1:
        raise ValueError(f"n_shards ({n_shards}) must be >= 1")
    group_cols = list(group_cols or [])
    h = F.substring(F.md5(F.col(col).cast("string")), 1, KMV_HEX_CHARS)
    distinct = (
        df.where(F.col(col).isNotNull())
        .select(*group_cols, h.alias("__h"))
        .groupBy(*group_cols, "__h")
        .agg(F.lit(1).alias("__one"))
    )
    part = distinct.groupBy(
        *group_cols, F.pmod(F.xxhash64("__h"), F.lit(n_shards)).alias("__kmv_shard")
    ).agg(F.slice(F.array_sort(F.collect_list("__h")), 1, k).alias("__part"))
    return part.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__part"))), 1, k).alias("hashes"),
        F.lit(k).alias("k"),
    ).select(
        *group_cols,
        "hashes",
        F.size("hashes").cast("bigint").alias("n_distinct_capped"),
        "k",
    )


def kmv_merge(kmv: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketch rows: union the hash arrays, keep the bottom k —
    EXACT (bottom-k of a union == bottom-k of the union of bottom-ks,
    because any union-bottom-k element is in its source's bottom k).
    Mixed ``k`` raises in-plan, the cms_merge/hdr_merge contract."""
    group_cols = list(group_cols or [])
    merged = kmv.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("hashes")))),
            1,
            # max(k) of the merged rows — but mixed schemes raise below
            # before any row escapes, so this is THE k
            F.max("k"),
        ).alias("hashes"),
        F.min("k").alias("__k_min"),
        F.max("k").alias("k"),
    )
    # guard as a FILTER, not a projection: a projected raise is elided by
    # column pruning when a consumer selects only `hashes` (the pq_encode
    # lesson, PLANS.md) — a filter predicate always evaluates per row
    merged = merged.filter(
        F.when(F.col("__k_min") == F.col("k"), F.lit(True)).otherwise(
            F.raise_error(
                F.lit("kmv_merge: mixed k values — sketches are not comparable")
            ).cast("boolean")
        )
    )
    return merged.select(
        *group_cols,
        "hashes",
        F.size("hashes").cast("bigint").alias("n_distinct_capped"),
        "k",
    )


def kmv_distinct_estimate(hashes_col: str, k: int) -> Column:
    """Distinct-count estimate from a sketch row: exact size while the
    sketch is unsaturated, else ``(k-1)/U_(k)`` with ``U_(k)`` the k-th
    minimum as a fraction of the hash space (Beyer et al. 2007's
    unbiased form). Bit-reproducible: the 52-bit hash converts to
    double exactly, and both engines then do the same two IEEE ops."""
    kth = F.element_at(F.col(hashes_col), k)
    frac = F.conv(kth, 16, 10).cast("double") / F.lit(float(16**KMV_HEX_CHARS))
    return (
        F.when(F.size(hashes_col) < k, F.size(hashes_col).cast("double"))
        .otherwise(F.lit(float(k - 1)) / frac)
    )


def kmv_jaccard(hashes_a: str, hashes_b: str, k: int) -> Column:
    """Jaccard estimate between two sketch rows (Beyer et al. 2007 §5):
    the bottom-k of A∪B is a k-sample of the union; the estimate is the
    fraction of that sample present in BOTH sketches. Row-local array
    expressions — join the two sketch rows first."""
    union_k = F.slice(
        F.array_sort(F.array_union(F.col(hashes_a), F.col(hashes_b))), 1, k
    )
    both = F.array_intersect(F.col(hashes_a), F.col(hashes_b))
    inter = F.size(F.array_intersect(union_k, both))
    return inter.cast("double") / F.least(F.size(union_k), F.lit(k)).cast("double")


def bloom_pruned_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Semi-join reduction for a shuffle join: build a Bloom sketch of
    the SMALL side's join keys, probe the BIG side map-side BEFORE its
    shuffle, then run the exact join on the survivors — the classic
    runtime-filter pattern (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` applies it when
    statistics cooperate; this operator makes it explicit and
    deterministic for the joins that matter). At 100 TB the win is the
    shuffle: rows whose key cannot match never leave their scan task,
    so exchange volume drops by the non-matching fraction; false
    positives (~0.24% at 16 bits/key) merely shuffle a few extra rows
    that the exact join then drops — results are IDENTICAL to the
    plain join (pinned by test), never approximate.

    ``how`` supports ``inner`` and ``left_semi`` (reductions are only
    sound where non-matching big-side rows are dropped anyway; an outer
    join must keep them, so it raises here).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_pruned_join: how={how!r} — pruning is only sound for "
            "inner/left_semi (outer joins must keep non-matching rows)"
        )
    sketch = bloom_build(small.select(on), on, n_bits=n_bits, n_hashes=n_hashes)
    probed = bloom_probe(big, sketch, on, out="__might")
    pruned = probed.filter(F.col("__might")).drop("__might")
    return pruned.join(small, on, how)


def kmv_containment(hashes_a: str, hashes_b: str, k: int) -> Column:
    """Containment estimate ``|A∩B| / |A|`` from two sketch rows (the
    Broder-containment analog of :func:`kmv_jaccard`, via the same
    union-sample argument — Beyer et al. 2007 §5 generalizes to any
    multiset ratio): restrict both sketches to the union's bottom-k
    (a uniform union sample), then divide the sample's intersection
    count by its A-side count. Detects SUBSET relations two corpora's
    Jaccard hides (a small corpus fully inside a huge one has tiny
    Jaccard but containment ≈ 1). Row-local array expressions; join
    the sketch rows first. Returns NULL when A's sample is empty
    (A empty — containment undefined)."""
    union_k = F.slice(
        F.array_sort(F.array_union(F.col(hashes_a), F.col(hashes_b))), 1, k
    )
    a_in = F.size(F.array_intersect(union_k, F.col(hashes_a)))
    both = F.size(
        F.array_intersect(union_k, F.array_intersect(F.col(hashes_a), F.col(hashes_b)))
    )
    return F.when(a_in > 0, both.cast("double") / a_in.cast("double"))
