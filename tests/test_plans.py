"""Plan audits: the Catalyst optimizations the engine's performance
contract depends on actually fire (SURVEY.md §4 — nothing custom needed,
but the free optimizations must be verified, not assumed)."""

from __future__ import annotations

import re

import pytest

from kafka_workers_spark.plans import audit
from kafka_workers_spark.queries import load_all, load_extra

REG = load_all()
#: rotation moves queries between REG and the EXTRA registry without
#: changing their contract — plan pins address the merged pool so a
#: rotation never breaks them
POOL = {**REG, **load_extra()}
SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    a = audit(POOL["scan_project_filter"].fn(spark, SF))
    assert a.has_pushed_filter("o_orderstatus"), a.text[:500]
    assert a.has_pushed_filter("o_totalprice"), a.text[:500]


def test_projection_prunes_columns(spark):
    a = audit(POOL["scan_project_filter"].fn(spark, SF))
    assert a.scans_only_columns(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ), a.read_schemas


def test_star_join_broadcasts_dimensions(spark):
    # join_inner_broadcast rotated to EXTRA round 15 — the plan shape
    # stays asserted here regardless (the sort_limit_topk precedent)
    a = audit(load_extra()["join_inner_broadcast"].fn(spark, SF))
    assert a.broadcast_joins >= 2, a.text[:800]
    assert a.cartesian_products == 0


def test_topk_avoids_global_sort_shuffle(spark):
    # sort_limit_topk rotated to EXTRA round 7 (text_bm25_topk took the
    # driver row) — the plan shape stays asserted here regardless
    a = audit(load_extra()["sort_limit_topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in a.text


def test_no_cartesian_products_anywhere(spark):
    """No registered query may plan a cartesian product — the scale
    guardrail for the whole inventory, INCLUDING the off-window overflow
    registry (rotation must never move a query out of the guard's
    reach)."""
    from concurrent.futures import ThreadPoolExecutor

    from kafka_workers_spark.queries import load_extra

    def check(item):
        name, spec = item
        a = audit(spec.fn(spark, SF))
        return name if a.cartesian_products else None

    # plan analysis is JVM-side and thread-safe; 8 planner threads cut
    # this 70-query audit from ~30 s to a few seconds of wall
    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = [n for n in pool.map(check, {**REG, **load_extra()}.items()) if n]
    assert not offenders, f"cartesian products in: {offenders}"


def test_dedup_hot_paths_stay_jvm_side(spark):
    """Signature computation must not fall back to Python evaluation."""
    # the family spans both registries after rotations (dedup_simhash
    # moved to EXTRA round 7) — the audit follows the query, not the window
    pool = {**REG, **load_extra()}
    for name in ["dedup_minhash_lsh", "dedup_simhash", "text_fingerprint", "dedup_embedding_cosine"]:
        a = audit(pool[name].fn(spark, SF))
        assert a.python_evals == 0, f"{name} plans Python eval"


def test_bucketed_join_needs_no_shuffle(spark):
    """sources.files.write_bucketed: two tables bucketed on the join key
    with the same bucket count join with ZERO exchanges — the co-located
    join layout for repeated fact-to-fact joins at scale."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.sources.files import write_bucketed

    left = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    right = spark.range(5_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(left, "bkt_left", ["k"], 8, sort_by=["k"])
    write_bucketed(right, "bkt_right", ["k"], 8, sort_by=["k"])
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        a = audit(joined)
        assert a.exchanges == 0, a.text[:1200]
        assert joined.count() == 5_000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_spread_skips_exchange_on_balanced_input(spark):
    """operators.dedup.spread must pass an already-parallel input through
    untouched — the property that keeps single-scan text queries
    shuffle-free on a real multi-split scan (VERDICT r02 'What's wrong' #4:
    the old unconditional barrier shuffled the full corpus)."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.dedup import spread

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    balanced = spark.range(10_000).repartition(n).withColumn("text", F.lit("a b c"))
    assert spread(balanced) is balanced  # no new plan node at all
    # non-file plans pass through, decided from the analyzed logical plan
    # alone (no .rdd physical planning — VERDICT r04 #3): a PySpark
    # createDataFrame frame is a LogicalRDD already sliced at
    # defaultParallelism, and producer-partitioned plans keep their layout
    local = spark.createDataFrame([(i, "a b c") for i in range(100)], "id long, text string")
    assert spread(local) is local
    narrow = spark.range(10_000).coalesce(1)
    assert spread(narrow) is narrow
    # pure-SQL literal rows ARE driver-local (LocalRelation /
    # OneRowRelation — single-task) — spread them
    for one_task in (
        spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(id)"),
        spark.sql("SELECT explode(sequence(1, 100)) AS id"),
    ):
        assert spread(one_task).rdd.getNumPartitions() == n


def test_spread_passes_through_without_jdf(spark):
    """Spark Connect has no ``_jdf``: the non-file branch must degrade to
    pass-through (the conservative arm of the documented trade-off), not
    crash on the private-API touch (VERDICT r05 'What's wrong' #1)."""
    from kafka_workers_spark.operators.dedup import spread

    values = spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(id)")

    class NoJdf:
        """Duck-typed stand-in for a Connect DataFrame: same surface
        spread() touches, minus _jdf."""

        isStreaming = False
        sparkSession = spark

        def inputFiles(self):
            return []

    fake = NoJdf()
    assert spread(fake) is fake


def test_spread_uses_file_count_not_rdd_planning(spark, tmp_path):
    """For file-backed plans the under-split check reads the scan's file
    list (cached FileIndex), never .rdd — no driver-side physical
    planning per query build (VERDICT r03 'What's wrong' #4). One-file
    scans repartition; many-file scans pass through untouched."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.dedup import spread

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min(n, spark.sparkContext.defaultParallelism)

    one = str(tmp_path / "one")
    spark.range(1_000).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    assert spread(narrow).rdd.getNumPartitions() == n

    many = str(tmp_path / "many")
    spark.range(10_000).repartition(floor).write.parquet(many)
    wide = spark.read.parquet(many).withColumn("t", F.lit("x"))
    assert spread(wide) is wide  # pass-through, judged by file count alone


def test_generate_filter_inference_stays_excluded(spark):
    """explode(computed_array) must not re-derive the staged expression
    tree below the barrier exchange: InferFiltersFromGenerate would sink a
    ``size(shingles) > 0`` filter (with the whole interpreted transform
    inlined) to the parquet scan, re-tokenizing every document once per
    consuming branch — measured 13s instead of 0.4s for the sf0.1
    decontamination explode. The rule is excluded session-wide by the
    table loaders (sources.files._tune_runtime)."""
    for name in ["corpus_contamination", "dedup_minhash_lsh", "dedup_ngram_jaccard"]:
        a = audit(REG[name].fn(spark, SF))
        assert "size(transform" not in a.text, f"{name} re-derives shingles below the barrier"
        # the tokenize split appears once in the plan tree + once in the
        # node-details section; any third occurrence is a re-derivation
        assert a.text.count("split(text") <= 2, f"{name} tokenizes more than once"


def test_shared_agg_base_has_no_checkpoint_or_pin(spark):
    """The multi-branch aggregate queries share their tiny base through
    AQE runtime exchange reuse, with neither a localCheckpoint (drops
    lineage — VERDICT r03 #1) nor a persist pin (the round-4 bench
    mover, +0.4-0.7 s of cache write/read overhead — VERDICT r04 #2) in
    the plan; the runtime half of the contract is asserted in
    test_multi_consumer_base_reuses_exchange_at_runtime."""
    for name in ["agg_grouping_rollup_cube", "events_time_windows"]:
        df = REG[name].fn(spark, SF)
        a = audit(df)
        assert "Scan ExistingRDD" not in a.text, f"{name}: checkpoint-style RDD scan in plan"
        assert "InMemoryTableScan" not in a.text and "InMemoryRelation" not in a.text, (
            f"{name}: unexpected persist pin reappeared"
        )


def test_self_join_reuses_signature_stage(spark):
    """The banded self-joins must not compute signatures twice: AQE's
    stage-level exchange reuse shares one materialized signature pipeline
    between the two join branches at runtime (the static plan prints two
    scans; the executed plan must show a ReusedExchange)."""
    for name in ["dedup_simhash_pairs", "dedup_minhash_lsh"]:
        df = REG[name].fn(spark, SF)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "ReusedExchange" in final, f"{name}: no exchange reuse in executed plan"


def test_multi_consumer_base_reuses_exchange_at_runtime(spark):
    """agg_grouping_rollup_cube and events_time_windows share one base
    aggregate across branches WITHOUT an explicit pin: their branch
    subtrees canonicalize identically, so AQE's runtime stage reuse must
    materialize the base exchange once (ReusedExchange in the EXECUTED
    plan — the static plan shows N scans, the runtime plan one). This is
    the single-scan-at-scale guarantee that replaced the round-4 persist
    pins (VERDICT r04 #2; measured medians in PLANS.md round 5)."""
    import re

    from kafka_workers_spark.queries import REGISTRY

    for name in ("agg_grouping_rollup_cube", "events_time_windows"):
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        df.collect()
        txt = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"ReusedExchange", txt), f"{name}: no runtime exchange reuse"


def test_partitioned_write_prunes_partitions_at_scan(spark, tmp_path):
    """write_sized(partition_by=...) produces a Hive-partitioned layout
    whose reads PRUNE at the directory level: a filter on the partition
    column appears as a PartitionFilter on the scan (whole partitions
    never listed — the strongest scan cut at 100 TB, above row-group
    PushedFilters), and the filtered read touches only the matching
    partition's files."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.sources.files import write_sized

    out = str(tmp_path / "parted")
    df = spark.range(2_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("shard"),
    )
    write_sized(df, out, target_mb=1, partition_by=["shard"])

    read = spark.read.parquet(out).filter(F.col("shard") == "2")
    a = audit(read)
    # the PartitionFilters entry IS the pruning proof: the scan's file
    # index applies it before listing splits (inputFiles() reports the
    # relation pre-pruning, so it can't witness this)
    assert a.has_partition_filter("shard"), a.text[:1500]
    assert not a.has_pushed_filter("shard"), a.pushed_filters  # dir-level, not row-group
    assert read.count() == 500


def test_dynamic_partition_pruning_fires_on_dim_filtered_join(spark, tmp_path):
    """Dynamic partition pruning — the RUNTIME sibling of the static
    PartitionFilters test: joining a Hive-partitioned fact to a FILTERED
    dimension on the partition column must inject a dynamicpruning
    subquery into the fact scan, so only the dim-selected partitions are
    listed at execution (at 100 TB this is the difference between
    scanning one day and scanning the decade when the date list comes
    from another table)."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.sources.files import write_sized

    out = str(tmp_path / "fact")
    fact = spark.range(4_000).select(
        F.col("id"), (F.col("id") % 8).cast("string").alias("day")
    )
    write_sized(fact, out, target_mb=1, partition_by=["day"])
    dim = spark.range(8).select(
        F.col("id").cast("string").alias("day"), (F.col("id") % 2 == 0).alias("keep")
    )

    joined = (
        spark.read.parquet(out)
        .join(dim.filter(F.col("keep")), "day")
        .select("id", "day")
    )
    a = audit(joined)
    assert "dynamicpruning" in a.text.lower(), a.text[:2000]
    assert joined.count() == 2_000


def test_sorted_neighborhood_window_is_partitioned(spark):
    """The SN ranking must never collapse to a one-task global sort:
    the physical Window's partition spec carries the block key."""
    import re

    a = audit(load_extra()["dedup_sorted_neighborhood"].fn(spark, SF))
    specs = re.findall(r"windowspecdefinition\(([^,]+),", a.text)
    assert specs, a.text[:500]
    # an UNPARTITIONED window renders its ORDER expression first — the
    # first argument then carries a sort direction; a partitioned one
    # leads with the partition column reference
    for first_arg in specs:
        assert "ASC" not in first_arg and "DESC" not in first_arg, (
            "one-task global window detected: " + first_arg
        )
    assert a.cartesian_products == 0


def test_set_similarity_prefix_join_is_equi(spark):
    """Candidate generation must be an equi-join on the prefix token —
    never a nested-loop / cartesian over documents."""
    # the audit follows the query across window rotations (windowed
    # since round 9)
    a = audit({**REG, **load_extra()}["dedup_set_similarity"].fn(spark, SF))
    assert a.cartesian_products == 0 and a.nested_loop_joins == 0, a.text[:800]
    assert a.sortmerge_joins + a.broadcast_joins + a.shuffled_hash_joins >= 2


def test_funnel_step_predicates_push_to_scan(spark):
    """Each funnel stage's event_type equality reaches the parquet
    reader as a pushed filter."""
    a = audit(load_extra()["events_funnel"].fn(spark, SF))
    assert a.has_pushed_filter("event_type"), a.text[:800]
    assert a.cartesian_products == 0


def test_bloom_pruned_join_filters_before_exchange(spark):
    """The probe conjunction must appear in the plan (map-side filter on
    the big side) and the final join stays an equi-join."""
    from kafka_workers_spark.functions.sketches import bloom_pruned_join

    big = spark.range(0, 20000).selectExpr("id AS k", "id * 2 AS payload")
    small = spark.range(0, 20).selectExpr("id * 1000 AS k", "id AS dim")
    a = audit(bloom_pruned_join(big, small, "k"))
    assert "xxhash64" in a.text and "shiftleft" in a.text, a.text[:800]
    assert a.cartesian_products == 0


def _sections(text):
    """(node_name, detail_body) pairs from EXPLAIN FORMATTED's detail part."""
    import re

    parts = re.split(r"^\(\d+\) (\S+)", text, flags=re.MULTILINE)
    return [(parts[i], parts[i + 1]) for i in range(1, len(parts) - 1, 2)]


def test_near_dup_signature_computed_once_per_side(spark):
    """The perceptual-hash cell tree (marked by its conv() digest calls)
    must live ONLY in the two Project nodes above the band self-join's
    sides — never re-substituted into a Filter or Scan below the
    groupBy(id).agg(first(...)) pin. That pin exists because Catalyst's
    join-constraint inference once inlined the whole computed-signature
    tree into a scan-side isnotnull filter THROUGH the repartition
    barrier (165 s at sf0.1, PLANS.md §Round 9); removing the pin makes
    this assertion fail, which is the point — a Spark upgrade must not
    regress it silently."""
    a = audit({**REG, **load_extra()}["multimodal_near_dup"].fn(spark, SF))
    carriers = [(n, b) for n, b in _sections(a.text) if "conv(" in b]
    assert carriers, "signature tree missing entirely?"
    bad = [n for n, _ in carriers if n not in ("Project",)]
    assert not bad, f"signature tree re-substituted into: {bad}"
    assert len(carriers) <= 2, f"signature tree inlined {len(carriers)} times"


def test_scd2_history_windows_share_one_exchange(spark):
    """scd2_history's lag (change detection) and lead (interval close)
    windows both partition by the business key and order by the same
    (ts, tiebreak): Catalyst must plan exactly ONE Exchange feeding both
    Window nodes — a second exchange would double the shuffle of every
    nightly history rebuild."""
    a = audit({**REG, **load_extra()}["events_scd2_history"].fn(spark, SF))
    names = [n for n, _ in _sections(a.text)]
    assert names.count("Window") == 2, names
    assert a.exchanges == 1, f"{a.exchanges} exchanges for 2 windows:\n{a.text[:600]}"


def test_gap_fill_grid_explode_carries_no_payload(spark):
    """The zero-fill grid explode must fan out bucket INDICES only
    (key + lo/hi bounds -> sequence) — if the aggregated payload columns
    ride through the Generate, every silent-hour row duplicates them and
    the explode's output width scales with the agg list."""
    a = audit({**REG, **load_extra()}["events_gap_fill"].fn(spark, SF))
    gens = [b for n, b in _sections(a.text) if n == "Generate"]
    assert gens, "no Generate node planned"
    for body in gens:
        assert "sum_value" not in body and "n_rows" not in body, body[:400]


def test_interval_overlap_join_is_banded_equi(spark):
    """Pair generation must be an equi-join on the time bucket — never a
    BroadcastNestedLoopJoin on the raw overlap predicate (the thing the
    bucketing exists to prevent; the overlap test is a post-join
    filter)."""
    a = audit({**REG, **load_extra()}["join_interval_overlap"].fn(spark, SF))
    assert a.nested_loop_joins == 0 and a.cartesian_products == 0, a.text[:800]
    assert a.sortmerge_joins + a.broadcast_joins + a.shuffled_hash_joins >= 1


def test_pagerank_plan_shape_pinned(spark):
    """The graph_pagerank watch closed (VERDICT r12 #2): three rounds of
    kept-min drift on untouched code needed a plan-diff to adjudicate.
    Round 13 did it — the audited shape at sf0.1 is IDENTICAL to the
    r9-asserted row (16 exchanges, 1 broadcast + 7 sort-merge + 1
    broadcast-NL join, 0 cartesian, 0 python), while the quiet-machine
    5-rep spread (4.16-7.62 s around a 6.1 median, min == the r8 min)
    shows the drift is machine variance, now self-recorded per bench run
    by the load metadata + slowest-3 recheck. This pin makes any FUTURE
    plan change loud instead of another three-round forensic: if the
    shape legitimately changes, update the expected counts AND the
    PLANS.md adjudication together.

    clearCache first: the pin is about the COLD plan (what the bench and
    the driver see in a fresh session). Spark's CacheManager substitutes
    InMemoryRelation for ANY matching subplan, so frames persisted by
    earlier test modules in the shared session would otherwise rewrite
    the scan subtrees and make the counts test-order-dependent."""
    spark.catalog.clearCache()
    a = audit(POOL["graph_pagerank"].fn(spark, SF))
    got = (
        a.exchanges,
        a.broadcast_joins,
        a.sortmerge_joins,
        a.shuffled_hash_joins,
        a.nested_loop_joins,
        a.cartesian_products,
        a.python_evals,
    )
    assert got == (16, 1, 7, 0, 1, 0, 0), (got, a.text[:800])


def _shape(a):
    return (
        a.exchanges,
        a.broadcast_joins,
        a.sortmerge_joins,
        a.shuffled_hash_joins,
        a.nested_loop_joins,
        a.cartesian_products,
        a.python_evals,
    )


@pytest.mark.parametrize(
    "name, want",
    [
        # PQ seeds its codebook from the pinned wide training frame: one
        # pass over the long training rows fewer than a long-format seed.
        # The sizing aggregate has already run that pin, so the audit
        # prints the cached plan's final and initial forms: one exchange
        # and one nested-loop join (the empty-train guard) more than the
        # unsized loop's (16, 3, 0, 0, 5, 0, 0)
        ("ann_pq_adc_topk", (17, 3, 0, 0, 6, 0, 0)),
        ("ann_ivf_topk", (19, 7, 0, 0, 3, 0, 0)),
    ],
)
def test_quantizer_plan_shape_pinned(spark, monkeypatch, name, want):
    """Cold-plan pins for the two rows built on the shared exact-integer
    Lloyd loop (operators/similarity.py ``_lloyd``): a change to the
    loop's shape shows up here as a changed tuple. clearCache first, for
    the reason test_pagerank_plan_shape_pinned gives. The loop is forced
    (a negative ``_LOCAL_MAX_TRAIN``, so the sizing aggregate still runs
    and chooses the loop): these small training sets take the one-task
    path by default, pinned below."""
    monkeypatch.setattr("kafka_workers_spark.operators.similarity._LOCAL_MAX_TRAIN", -1)
    spark.catalog.clearCache()
    a = audit(POOL[name].fn(spark, SF))
    assert _shape(a) == want, (_shape(a), a.text[:800])


def _map_in_arrow(a) -> int:
    return len(re.findall(r"^\(\d+\) MapInArrow\b", a.text, re.MULTILINE))


@pytest.mark.parametrize(
    "name, want",
    [
        ("ann_pq_adc_topk", ((9, 2, 0, 0, 3, 0, 0), 1)),
        ("ann_ivf_topk", ((13, 6, 0, 0, 1, 0, 0), 1)),
    ],
)
def test_quantizer_one_task_plan_shape_pinned(spark, name, want):
    """The default shape of the same two rows: their training sets are
    under ``_LOCAL_MAX_TRAIN``, so the Lloyd steps are ONE MapInArrow
    task over the pinned wide training rows (its codewords pinned too)
    and no step appears in the plan; the final assignment is the loop's
    own broadcast map pass."""
    spark.catalog.clearCache()
    a = audit(POOL[name].fn(spark, SF))
    assert (_shape(a), _map_in_arrow(a)) == want, (_shape(a), _map_in_arrow(a), a.text[:800])


def test_ingest_encoders_are_one_map_pass(spark):
    """assign_lists and pq_encode against STORED codebooks are one map
    pass over the batch: the only exchanges are the two that collect the
    codebook into one broadcast row, and nothing joins back on the id
    (no sort-merge join, no broadcast hash join)."""
    from kafka_workers_spark.operators.similarity import assign_lists, pq_encode
    from kafka_workers_spark.sources.files import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, SF, "embeddings")
    dim = 64
    ivf = spark.createDataFrame(
        [(c, i, c) for c in (0, 1) for i in range(dim)], "list_id long, i int, c6 long"
    )
    pq = spark.createDataFrame(
        [(s, c, j, c) for s in range(4) for c in (0, 1) for j in range(dim // 4)],
        "sub long, code int, j int, c6 long",
    )
    for df in (assign_lists(emb, ivf), pq_encode(emb, pq, dsub=dim // 4)):
        a = audit(df)
        got = (a.exchanges, a.sortmerge_joins, a.broadcast_joins)
        assert got == (2, 0, 0), (got, a.text[:800])


def test_cusum_plans_one_window_chain_no_loop(spark):
    """The CUSUM screen's whole design claim: the max(0,·) recursion
    compiles to stacked window aggregates over ONE key-partitioned sort
    order — no iterative loop, no UDF, no sort-merge join (the phase-I
    reference is one row per key and must BROADCAST back)."""
    # events_cusum_shift rotated INTO the driver window round 15
    a = audit(REG["events_cusum_shift"].fn(spark, SF))
    assert a.python_evals == 0 and a.cartesian_products == 0, a.text[:800]
    assert a.sortmerge_joins == 0, a.text[:800]  # ref joins broadcast
    assert a.broadcast_joins >= 1, a.text[:800]


def test_bpe_train_plan_argmax_take_ordered_one_exchange_per_round(spark, monkeypatch):
    """The unrolled BPE trainer's design claims (rotated INTO the
    driver window round 15): each round's argmax pair compiles to a
    1-row TakeOrderedAndProject (per-partition top-1 + driver merge of
    heads — never a partitionless window), the visible plan pays
    EXACTLY one exchange per pair-count aggregate plus one for the
    word-count base (rewrite chains hide behind the per-round lazy
    checkpoint cut), and the whole chain stays JVM-side. Since r16 the
    word-count base itself sits behind the round-0 lazy checkpoint, so
    its exchange leaves the visible plan too. The round loop is forced
    (a negative ``_LOCAL_MAX_CHARS``): the test corpus takes the
    one-task path by default, pinned below."""
    monkeypatch.setattr("kafka_workers_spark.operators.text._LOCAL_MAX_CHARS", -1)
    spark.catalog.clearCache()
    a = audit(REG["text_bpe_train"].fn(spark, SF))
    assert "TakeOrderedAndProject" in a.text, a.text[:800]
    assert a.python_evals == 0 and a.cartesian_products == 0, a.text[:800]
    assert a.sortmerge_joins == 0, a.text[:800]
    expected = 8  # one per round; the word count hides behind the round-0 pin
    assert a.exchanges == expected, (a.exchanges, a.text[:800])


def test_bpe_train_plan_one_task_shape(spark):
    """The default BPE plan on a vocabulary under ``_LOCAL_MAX_CHARS``:
    one MapInArrow task over the checkpointed word counts (coalesced to
    one partition), so no round, argmax, join or exchange is left in the
    plan."""
    spark.catalog.clearCache()
    a = audit(REG["text_bpe_train"].fn(spark, SF))
    assert _map_in_arrow(a) == 1, a.text[:800]
    assert "TakeOrderedAndProject" not in a.text, a.text[:800]
    got = (a.exchanges, a.broadcast_joins, a.nested_loop_joins, a.cartesian_products)
    assert got == (0, 0, 0, 0), (got, a.text[:800])


@pytest.mark.parametrize("name, most", [("text_bpe_train", 4), ("ann_pq_adc_topk", 16)])
def test_small_trainers_run_few_spark_jobs(spark, name, most):
    """A load-independent pin of what the one-task trainers save: the
    Spark jobs of building and collecting the row, counted from the
    status tracker under a job group (27 and 29 jobs when every BPE round
    and Lloyd step was its own Spark stage)."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    group = f"small-trainer-jobs-{name}"
    sc.setJobGroup(group, "count the row's Spark jobs")
    try:
        POOL[name].fn(spark, SF).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= most, jobs


def test_bfs_reach_plan_shape(spark):
    """graph_bfs_reach (rotated INTO the driver window round 15):
    semi-naive frontier rounds — label frames join sort-merge, small
    seed/frontier sides broadcast, and the seed selection is a
    TakeOrderedAndProject; no cartesian, no Python, no nested loop.

    15 exchanges since r16: the adjacency cache gained ONE explicit
    repartition by the round-join key (__s) so its InMemoryRelation
    reports a usable output partitioning and the per-round sort-merge
    joins read the cache WITHOUT re-shuffling it at runtime (the static
    audit still prints the joins' conservative exchanges; AQE elides
    them once the cached partitioning is visible — the r16 graph-family
    A/B: bfs 6.54→5.85 s, pagerank 6.99→4.34 s). 3 broadcast joins
    (was 4): the one-pass _symmetrize explodes each edge into its two
    directions instead of unioning two selects of the edge producer, so
    the producer's broadcast join appears once, not per branch."""
    spark.catalog.clearCache()
    a = audit(REG["graph_bfs_reach"].fn(spark, SF))
    got = (
        a.exchanges,
        a.broadcast_joins,
        a.sortmerge_joins,
        a.shuffled_hash_joins,
        a.nested_loop_joins,
        a.cartesian_products,
        a.python_evals,
    )
    assert got == (15, 3, 6, 0, 0, 0, 0), (got, a.text[:800])
    assert "TakeOrderedAndProject" in a.text, a.text[:800]
