"""IVF ANN with trained KMeans centroids: assignment determinism, the
recall/nprobe trade-off, and exactness when probing every list.

SURVEY.md §7 step 6 (similarity search); VERDICT r02 item 7 (real IVF:
trained centroids, nprobe>1, recall@k vs the exact baseline).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_workers_spark.operators.similarity import ivf_topk, recall_at_k, train_ivf
from kafka_workers_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"
K_LISTS = 8


# AQE off module-wide — shared conftest fixture, see its docstring
_no_aqe = pytest.fixture(scope="module", autouse=True)(lambda no_aqe: None)
TOP_K = 5
QUERY_IDS = list(range(8))


@pytest.fixture(scope="module")
def assigned(spark):
    emb = load_table(spark, SF, "embeddings")
    _, a = train_ivf(emb, k=K_LISTS, seed=7)
    a = a.cache()
    a.count()
    return a


def test_kmeans_assignment_deterministic_and_total(spark, assigned):
    n = load_table(spark, SF, "embeddings").count()
    assert assigned.filter(F.col("list_id").isNull()).count() == 0
    assert assigned.count() == n
    lo, hi = assigned.agg(F.min("list_id"), F.max("list_id")).first()
    assert 0 <= lo <= hi < K_LISTS
    # same seed -> identical assignment (reproducible ingest)
    _, again = train_ivf(load_table(spark, SF, "embeddings"), k=K_LISTS, seed=7)
    diff = (
        assigned.select("vec_id", "list_id")
        .join(again.select("vec_id", F.col("list_id").alias("l2")), "vec_id")
        .filter(F.col("list_id") != F.col("l2"))
        .count()
    )
    assert diff == 0


def test_ivf_recall_improves_with_nprobe_and_reaches_exact(spark, assigned):
    """More probes -> recall monotonically non-decreasing; probing every
    list IS the brute-force search (recall 1.0) — the structural guarantee
    that IVF only trades recall for the candidate-set size."""
    exact = ivf_topk(assigned, QUERY_IDS, nprobe=K_LISTS, top_k=TOP_K).cache()
    assert exact.count() == len(QUERY_IDS) * TOP_K

    recalls = {}
    for nprobe in (1, 2, 4, K_LISTS):
        approx = ivf_topk(assigned, QUERY_IDS, nprobe=nprobe, top_k=TOP_K)
        recalls[nprobe] = recall_at_k(approx, exact, TOP_K)
    assert recalls[K_LISTS] == pytest.approx(1.0)
    assert recalls[1] <= recalls[2] <= recalls[4] <= recalls[K_LISTS] + 1e-9
    # the quantizer must be better than nothing: 1 of 8 lists should keep
    # well over 1/8 of the true neighbors for clustered data
    assert recalls[1] >= 0.3, recalls


def test_ivf_exhaustive_probe_matches_brute_force_scores(spark, assigned):
    """nprobe=k must return the same neighbor sets AND cosines as the
    registered exact baseline computes (same fixed-point arithmetic)."""
    full = ivf_topk(assigned, QUERY_IDS, nprobe=K_LISTS, top_k=TOP_K)
    rows = full.collect()
    # cosine within [-1, 1] and strictly ordered per query by (desc, id)
    by_q = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine, r.neighbor_id))
    for qid, rs in by_q.items():
        rs.sort()
        cosines = [c for _, c, _ in rs]
        assert cosines == sorted(cosines, reverse=True) or all(
            c1 >= c2 - 1e-12 for c1, c2 in zip(cosines, cosines[1:])
        ), f"query {qid} not ranked by cosine"


def test_registered_ivf_trains_its_own_quantizer(spark):
    """The driver-checked ann_ivf_topk runs on kmeans_fixed assignments —
    no synthetic label column (VERDICT r03 item 2). Invariants: probing
    every list reproduces the exact brute-force baseline bit-for-bit
    (same fixed-point arithmetic), and the registered nprobe keeps
    nonzero recall against it."""
    from kafka_workers_spark.queries.similarity import (
        K_LISTS,
        TOP_K,
        _ivf_fixed_topk,
        ann_cosine_topk,
    )

    exact = ann_cosine_topk(spark, SF)
    all_probes = _ivf_fixed_topk(spark, SF, K_LISTS)
    got = sorted(map(tuple, all_probes.collect()))
    want = sorted(map(tuple, exact.collect()))
    assert got == want, "nprobe=k must BE the brute-force search"

    from kafka_workers_spark.queries import load_all

    registered = load_all()["ann_ivf_topk"].fn(spark, SF)
    rec = recall_at_k(registered, exact, TOP_K)
    assert rec > 0.2, f"trained quantizer recall collapsed: {rec}"


def test_kmeans_fixed_sparse_input_raises_not_skips(spark):
    """The round-15 wide-format Lloyd loop requires DENSE dims per id;
    a ragged long-format input (missing dims) must fail loudly via the
    in-plan width guard instead of silently skipping dimensions (the old
    join-on-dim shape quietly computed distances over the intersection)."""
    import pytest

    from kafka_workers_spark.operators.similarity import kmeans_fixed

    ragged = spark.createDataFrame(
        # vec 1 has dims {0,1}; vec 2 only dim {0} — ragged widths
        [(1, 0, 5), (1, 1, 7), (2, 0, 9)],
        "vec_id long, i int, x long",
    )
    _, assign = kmeans_fixed(ragged, k=1, iters=1)
    with pytest.raises(Exception, match="width mismatch"):
        assign.collect()
    # EQUAL-width ragged (the subtle case): vec 2 has dims {1, 2} — same
    # width as the dense vec 1, so a size check alone would silently
    # relabel its dims by position; the in-plan density guard must raise
    shifted = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 7), (2, 1, 9), (2, 2, 100)],
        "vec_id long, i int, x long",
    )
    _, assign2 = kmeans_fixed(shifted, k=1, iters=1)
    with pytest.raises(Exception, match="width mismatch"):
        assign2.collect()


def test_kmeans_fixed_deterministic_and_total(spark):
    """Same input -> identical centroids and assignments (pure integer
    arithmetic, no seed even needed); every vector gets exactly one list."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import kmeans_fixed

    emb = load_table(spark, SF, "embeddings")
    comp = explode_fixed(
        emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6")), ["vec_id"]
    )
    cents1, assign1 = kmeans_fixed(comp, k=4, iters=1)
    cents2, assign2 = kmeans_fixed(comp, k=4, iters=1)
    assert sorted(map(tuple, cents1.collect())) == sorted(map(tuple, cents2.collect()))
    a1 = dict(assign1.collect())
    assert a1 == dict(assign2.collect())
    assert len(a1) == emb.count()  # total: one list per vector


def test_rhp_lsh_pairs_blocks_by_angle(spark):
    """Random-hyperplane LSH: a near-identical vector pair shares (almost)
    all bands; the pair table is deterministic for a fixed seed; the plan
    is a blocking equi-join (no cartesian, no Python)."""
    import numpy as np

    from kafka_workers_spark.operators.similarity import rhp_lsh_pairs
    from kafka_workers_spark.plans import audit

    rng = np.random.RandomState(1)
    base = rng.standard_normal(16)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(30)]
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + rng.standard_normal(16) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {(r.id_a, r.id_b): r.n_shared_bands for r in rhp_lsh_pairs(df, dim=16).collect()}
    assert out.get((100, 101), 0) >= 3  # ~identical directions agree on ~all bits
    # deterministic: same seed -> same pair table
    again = {(r.id_a, r.id_b): r.n_shared_bands for r in rhp_lsh_pairs(df, dim=16).collect()}
    assert out == again
    a = audit(rhp_lsh_pairs(df, dim=16))
    assert a.cartesian_products == 0 and a.python_evals == 0

    import pytest

    with pytest.raises(ValueError, match="divide"):
        rhp_lsh_pairs(df, dim=16, n_bits=10, n_bands=4)


def test_near_dedup_embeddings_label_free(spark):
    """RHP blocking + exact-cosine verify + survivor rule: planted
    duplicate directions collapse to the lowest id; unrelated vectors all
    survive — no labels, no training."""
    import numpy as np

    from kafka_workers_spark.operators.similarity import near_dedup_embeddings

    rng = np.random.RandomState(3)
    base = rng.standard_normal(16)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(20)]
    rows += [
        (100, [float(x) for x in base]),
        (101, [float(x) for x in base * 2.0]),            # same direction
        (102, [float(x) for x in base + rng.standard_normal(16) * 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for exact in (False, True):
        out = sorted(
            r.vec_id
            for r in near_dedup_embeddings(df, dim=16, exact_groups=exact).collect()
        )
        assert 100 in out and 101 not in out and 102 not in out, out
        assert [i for i in range(20) if i not in out] == [], out


def test_semantic_dedup_drops_planted_near_dups(spark):
    """SemDeDup-style dedup on the trained quantizer: planted near-dup
    directions collapse to the lowest id inside their cluster; the
    distinct base vectors all survive. No label column, no hyperplanes —
    blocking comes from the quantizer's own lists."""
    import numpy as np

    from kafka_workers_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(3)
    dim = 16
    base = rng.standard_normal((6, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    for nid, src in ((100, 0), (101, 3)):
        v = base[src] + rng.standard_normal(dim) * 1e-3
        rows.append((nid, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, dim, k=4, min_cosine=0.995, train_mod=None
        ).collect()
    )
    assert kept == [0, 1, 2, 3, 4, 5], kept


def test_semantic_dedup_exact_groups_vs_greedy_star(spark):
    """The star case that separates the survivor rules: b is similar to
    both a and c, but a and c are not similar to each other. Greedy drops
    only b (the higher id of each verified pair); exact transitive groups
    collapse the whole component to its minimum."""
    import math

    from kafka_workers_spark.operators.similarity import semantic_dedup

    dim = 8
    th = math.radians(60.0)
    a = [1.0] + [0.0] * (dim - 1)
    c = [math.cos(th), math.sin(th)] + [0.0] * (dim - 2)
    mid = [(x + y) for x, y in zip(a, c)]
    n = math.sqrt(sum(x * x for x in mid))
    b = [x / n for x in mid]
    rows = [
        (0, [0.0, 0.0, 1.0] + [0.0] * (dim - 3)),
        (3, a),
        (5, c),
        (7, b),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    # cos(a,b) = cos(b,c) = cos30 ~ .866 >= .8; cos(a,c) = cos60 = .5 < .8
    greedy = sorted(
        r.vec_id
        for r in semantic_dedup(df, dim, k=1, min_cosine=0.8, train_mod=None).collect()
    )
    exact = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, dim, k=1, min_cosine=0.8, train_mod=None, exact_groups=True
        ).collect()
    )
    assert greedy == [0, 3, 5], greedy
    assert exact == [0, 3], exact


def test_semantic_dedup_on_real_embeddings_table(spark):
    """semantic_dedup runs end-to-end on the actual 64-dim embeddings
    parquet with a scale-safe plan: blocking equi-joins only, zero
    cartesian products, zero Python eval."""
    from kafka_workers_spark.operators.similarity import semantic_dedup
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = semantic_dedup(emb, dim=64, k=8, min_cosine=0.999)
    a = audit(out)
    # the single Arrow-batched eval is the documented pair-table cosine
    # verify (dot_fixed_fast) — it touches candidate pairs only, never
    # the corpus; everything upstream is codegen equi-join/aggregate
    assert a.cartesian_products == 0 and a.python_evals <= 1
    n_in, n_out = emb.count(), out.count()
    assert 0 < n_out <= n_in


def test_new_similarity_ops_on_real_embeddings_table(spark):
    """rhp_lsh_pairs and near_dedup_embeddings run against the actual
    embeddings parquet (64-dim float vectors) with clean plans: blocking
    equi-joins only, no Python eval."""
    from kafka_workers_spark.operators.similarity import near_dedup_embeddings, rhp_lsh_pairs
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = rhp_lsh_pairs(emb, dim=64)
    a = audit(pairs)
    assert a.cartesian_products == 0 and a.python_evals == 0
    assert pairs.count() >= 0  # executes end-to-end (dim assert passes)
    survivors = near_dedup_embeddings(emb, dim=64, min_cosine=0.999)
    n_in = emb.count()
    n_out = survivors.count()
    assert 0 < n_out <= n_in
    assert survivors.columns == emb.columns  # passthrough schema


def test_quantize_embeddings_roundtrip_and_cosine_preservation(spark):
    """int8 symmetric quantization: codes are tinyint in [-127,127] with a
    per-vector float scale; dequantized vectors reconstruct within
    scale/2 per component and preserve cosine to ~1e-3 on the real
    embeddings table — good enough for candidate generation, with exact
    re-ranking downstream."""
    import math

    from kafka_workers_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    q = quantize_embeddings(emb)
    rows = q.select("vec_id", "embedding", "q_codes", "q_scale").collect()
    assert rows
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.q_codes)
        assert len(r.q_codes) == len(r.embedding)
        peak = max(abs(x) for x in r.embedding)
        assert r.q_scale == pytest.approx(peak / 127.0, rel=1e-5)

    deq = dequantize_embeddings(q.drop("embedding"), out_col="embedding")
    joined = (
        emb.select("vec_id", F.col("embedding").alias("orig"))
        .join(deq.select("vec_id", F.col("embedding").alias("back")), "vec_id")
        .collect()
    )
    for r in joined:
        dot = sum(a * b for a, b in zip(r.orig, r.back))
        na = math.sqrt(sum(a * a for a in r.orig))
        nb = math.sqrt(sum(b * b for b in r.back))
        for a, b, in zip(r.orig, r.back):
            assert abs(a - b) <= (na and max(abs(x) for x in r.orig) / 127.0) / 2 + 1e-6
        if na > 0 and nb > 0:
            assert dot / (na * nb) > 0.999


def test_quantize_embeddings_zero_vector(spark):
    from kafka_workers_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(df)
    rows = {r.vec_id: r for r in q.collect()}
    assert list(rows[1].q_codes) == [0, 0, 0] and rows[1].q_scale == 0.0
    assert rows[2].q_codes[1] == -127  # the peak component saturates
    back = {r.vec_id: r.embedding for r in dequantize_embeddings(q.drop("embedding")).collect()}
    assert back[1] == [0.0, 0.0, 0.0]


def test_assign_lists_reproduces_training_assignment(spark):
    """Ingest-time assignment against stored centroids: re-assigning the
    training vectors reproduces kmeans_fixed's own assignment exactly
    (same integer arithmetic), and novel vectors get a valid list."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import assign_lists, kmeans_fixed

    emb = load_table(spark, SF, "embeddings")
    comp = explode_fixed(
        emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6")), ["vec_id"]
    )
    cents, train_assign = kmeans_fixed(comp, k=4, iters=1)
    cents = cents.cache()
    got = assign_lists(emb, cents)
    train = {r.vec_id: r.list_id for r in train_assign.collect()}
    assigned = {r.vec_id: r.list_id for r in got.select("vec_id", "list_id").collect()}
    assert assigned == train
    assert got.columns == emb.columns + ["list_id"]


@pytest.mark.slow
def test_near_dedup_embeddings_incremental_loop(spark):
    """The vector ingest loop: batch vectors near-duplicating the landed
    corpus are caught via the stored RHP band index + exact-cosine
    verify (corpus vectors touched only for candidates); batch-internal
    near-dups resolve greedily; survivors' bands extend the index."""
    import numpy as np

    from kafka_workers_spark.operators.similarity import (
        near_dedup_embeddings_incremental,
        rhp_bands,
    )

    rng = np.random.RandomState(11)
    base = rng.standard_normal(16)
    other = rng.standard_normal(16)
    corpus = spark.createDataFrame(
        [(1, [float(x) for x in base])]
        + [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(2, 8)],
        "vec_id long, embedding array<float>",
    )
    # 8 bits x 2 bands (vs the 16x4 default) halves the hyperplane
    # expression tree — same collisions for the sign-identical test
    # vectors, ~2x faster analysis on the five actions below
    index = rhp_bands(corpus, dim=16, n_bits=8, n_bands=2)

    batch = spark.createDataFrame(
        [
            (10, [float(x) for x in base * 1.5]),      # same direction as landed 1 -> dropped
            (11, [float(x) for x in other]),            # novel -> kept
            (12, [float(x) for x in other * 2.0]),      # dup of 11 within batch -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    kept, new_rows = near_dedup_embeddings_incremental(
        batch, index, corpus, dim=16, min_cosine=0.99, n_bits=8, n_bands=2
    )
    # materialize round 1's outputs before reusing them, exactly as
    # production does (the band index is a STORED table between ingests,
    # never a lazy recompute chain) — without the pin every round-2
    # action re-ran the whole round-1 pipeline (~20s per action here)
    kept = kept.persist()
    new_rows = new_rows.persist()
    assert sorted(r.vec_id for r in kept.collect()) == [11]
    assert set(r.vec_id for r in new_rows.collect()) == {11}

    # the grown index catches the next batch's near-dup of 11
    index2 = index.unionByName(new_rows).persist()
    corpus2 = corpus.unionByName(batch.filter(F.col("vec_id") == 11)).persist()
    index2.count(), corpus2.count()
    batch2 = spark.createDataFrame(
        [(20, [float(x) for x in other + rng.standard_normal(16) * 0.001])],
        "vec_id long, embedding array<float>",
    )
    kept2, new2 = near_dedup_embeddings_incremental(
        batch2, index2, corpus2, dim=16, min_cosine=0.99, n_bits=8, n_bands=2
    )
    assert kept2.count() == 0 and new2.count() == 0

    # an unverified band collision must NOT delete: raise the threshold
    # so the candidate fails verification and survives
    kept3, _ = near_dedup_embeddings_incremental(
        batch2, index2, corpus2, dim=16, min_cosine=0.9999999, n_bits=8, n_bands=2
    )
    assert kept3.count() == 1


def test_ivf_search_over_quantized_storage(spark, assigned):
    """The storage path composes with search: quantize → dequantize →
    probed IVF keeps high recall against the exact full-precision
    baseline (int8 cosine distortion is far below the list-pruning
    effect). The full-precision side reuses the module's trained
    assignment fixture (same k/seed)."""
    from kafka_workers_spark.operators.similarity import (
        dequantize_embeddings,
        ivf_topk,
        quantize_embeddings,
        recall_at_k,
        train_ivf,
    )

    emb = load_table(spark, SF, "embeddings")
    stored = quantize_embeddings(emb).drop("embedding")
    restored = dequantize_embeddings(stored, out_col="embedding")
    _, q_assigned = train_ivf(restored, k=K_LISTS, seed=7)
    approx = ivf_topk(q_assigned.cache(), QUERY_IDS, nprobe=K_LISTS, top_k=TOP_K)

    exact = ivf_topk(assigned, QUERY_IDS, nprobe=K_LISTS, top_k=TOP_K)
    rec = recall_at_k(approx, exact, TOP_K)
    assert rec >= 0.9, f"quantized-storage recall dropped to {rec}"


def test_semantic_dedup_empty_training_sample_raises(spark):
    """A train_mod no id satisfies must fail loudly — an empty quantizer
    would silently turn the dedup pass into a no-op. The lazy guard
    raises in-plan at the first action (the tfidf_weights raise_error
    twin, VERDICT r05 #4)."""
    import pytest

    from kafka_workers_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    lazy = semantic_dedup(df, dim=2, k=2, train_mod=2)
    with pytest.raises(Exception, match="training sample is empty"):
        lazy.collect()
    # the guard must also fire under AQE (the driver's default config):
    # empty-relation propagation must not prune the raise_error before
    # the guard aggregate evaluates (code-review r06 concern, pinned)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        with pytest.raises(Exception, match="training sample is empty"):
            semantic_dedup(df, dim=2, k=2, train_mod=2).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")


def test_semantic_dedup_build_runs_no_job(spark):
    """Operator construction is plan-only by default: the empty-sample
    probe rides the plan as a 1-row broadcast guard, so no Spark job runs
    until the caller acts on the result (VERDICT r05 #4 — the package is
    now uniformly job-free at build outside documented eager opt-ins)."""
    from kafka_workers_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<float>"
    )
    sc = spark.sparkContext
    sc.setJobGroup("semantic-build-probe", "assert no eager action")
    try:
        built = semantic_dedup(df, dim=2, k=2, train_mod=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("semantic-build-probe")) == []
    # and the guarded plan still computes: the guard is transparent on
    # the non-empty path
    assert built.count() >= 0


def test_streaming_ingest_assigns_lists_and_quantizes(spark, tmp_path):
    """The 'assign once at ingest' story, run for real on a stream:
    centroids trained once on the landed corpus, then each arriving
    micro-batch of embeddings is list-assigned against the STORED
    centroids and landed quantized via foreachBatch. The landed
    assignments must agree exactly with a batch recompute — streaming
    ingest and backfill produce the same index."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import (
        assign_lists,
        kmeans_fixed,
        quantize_embeddings,
    )
    from kafka_workers_spark.sources.files import load_table

    emb = load_table(spark, SF, "embeddings")
    comp = explode_fixed(
        emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6")), ["vec_id"]
    )
    cents, _ = kmeans_fixed(comp, k=4, iters=1)
    cents = cents.cache()
    cents.count()

    src = str(tmp_path / "src")
    dst = str(tmp_path / "landed")
    # two files -> two micro-batches of "new" vectors (shifted ids)
    batch = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    batch.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src)
    batch.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    def land(bdf, batch_id):
        out = quantize_embeddings(assign_lists(bdf, cents))
        out.write.mode("append").parquet(dst)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "ingest stream timed out"

    landed = spark.read.parquet(dst)
    assert landed.count() == emb.count()
    assert {"list_id", "q_codes", "q_scale"} <= set(landed.columns)
    # streaming assignment == batch recompute, row for row
    recomputed = assign_lists(batch, cents).select(
        "vec_id", F.col("list_id").alias("expect")
    )
    diff = (
        landed.select("vec_id", "list_id")
        .join(recomputed, "vec_id")
        .filter(F.col("list_id") != F.col("expect"))
        .count()
    )
    assert diff == 0


def test_ivf_topk_accepts_query_id_dataframe(spark, assigned):
    """The at-scale query form: a one-column DataFrame of ids semi-joins
    in and returns exactly what the literal list form returns."""
    by_list = ivf_topk(assigned, QUERY_IDS, nprobe=2, top_k=TOP_K)
    qdf = spark.createDataFrame([(i,) for i in QUERY_IDS], "qid long")
    by_df = ivf_topk(assigned, qdf, nprobe=2, top_k=TOP_K)
    assert sorted(map(tuple, by_df.collect())) == sorted(map(tuple, by_list.collect()))


# ---------------------------------------------------------------------------
# Product quantization (pq_train / pq_adc_topk)
# ---------------------------------------------------------------------------


def test_pq_adc_exact_when_every_vector_is_a_codeword(spark):
    """With k >= n and train = the whole corpus, every vector seeds its
    own codeword and Lloyd's fixes it there, so each vector's code IS
    itself and the ADC distance degenerates to the EXACT integer squared
    L2 — the property that pins the whole train/encode/LUT/score chain."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import pq_adc_topk, pq_train

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 12)
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"])
    cents, codes = pq_train(comp, m=4, dim=64, k=12, iters=1)
    # m codes per vector, each vector its own codeword in every subspace
    own = codes.filter(F.col("code") == F.col("vec_id")).count()
    assert own == 12 * 4
    q = comp.filter(F.col("vec_id") < 2)
    got = {
        (r.query_id, r.neighbor_id): r.adc_d6
        for r in pq_adc_topk(codes, cents, q, dsub=16, k_top=3).collect()
    }
    # exact squared L2 reference from the same long format
    a, b = comp.alias("a"), comp.alias("b")
    exact = {
        (r.qid, r.nid): r.d
        for r in (
            a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < 2)
                   & (F.col("a.vec_id") != F.col("b.vec_id")))
            .groupBy(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
            .agg(F.sum((F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))).alias("d"))
            .collect()
        )
    }
    assert got and all(exact[k] == v for k, v in got.items())
    # and the top-3 really are the 3 smallest exact distances per query
    for qid in (0, 1):
        want = sorted(d for (q_, _), d in exact.items() if q_ == qid)[:3]
        have = sorted(d for (q_, _), d in got.items() if q_ == qid)
        assert have == want


def test_pq_train_validates_and_codes_are_total(spark):
    import pytest as _pytest

    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import pq_train

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"])
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(comp, m=5, dim=64)
    cents, codes = pq_train(
        comp, m=4, dim=64, k=8, iters=2,
        train=comp.filter(F.col("vec_id") % 4 == 0),
    )
    n = emb.count()
    # exactly m codes per vector, every code a trained codeword
    assert codes.count() == n * 4
    per = codes.groupBy("vec_id").count().filter(F.col("count") != 4).count()
    assert per == 0
    orphan = codes.join(cents.select("sub", "code").distinct(), ["sub", "code"], "left_anti")
    assert orphan.count() == 0


def test_ivf_pq_full_probe_reproduces_pure_adc_and_rerank_is_exact(spark):
    """IVFADC composition (ivf_pq_topk): probing EVERY coarse list must
    reproduce pq_adc_topk bit for bit (the graceful-degradation property
    the IVF family pins), and rerank_exact over a full-corpus shortlist
    must reproduce the exact integer-L2 top-k."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import (
        ivf_pq_topk,
        kmeans_fixed,
        pq_adc_topk,
        pq_train,
        rerank_exact,
    )

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 100)
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"]).cache()
    comp.count()
    ivf_cents, assign = kmeans_fixed(comp, k=4, iters=1)
    cents, codes = pq_train(comp, m=4, dim=64, k=8, iters=1)
    q = comp.filter(F.col("vec_id") < 3)

    pure = pq_adc_topk(codes, cents, q, dsub=16, k_top=4)
    full = ivf_pq_topk(
        codes, cents, assign, ivf_cents, q, dsub=16, nprobe=4, k_top=4
    )
    got = sorted(map(tuple, full.collect()))
    want = sorted(map(tuple, pure.collect()))
    assert got == want

    # narrow probe returns a (possibly worse) but well-formed top-k
    narrow = ivf_pq_topk(codes, cents, assign, ivf_cents, q, dsub=16, nprobe=1, k_top=4)
    per_q = narrow.groupBy("query_id").count().collect()
    assert all(r["count"] <= 4 for r in per_q)

    # rerank over an everything-shortlist == exact integer-L2 top-k
    everything = (
        q.select(F.col("vec_id").alias("query_id")).distinct()
        .crossJoin(comp.select(F.col("vec_id").alias("neighbor_id")).distinct())
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    rr = {
        (r.query_id, r.rank): (r.neighbor_id, r.d6)
        for r in rerank_exact(everything, comp, q, k_top=3).collect()
    }
    a, b = comp.alias("a"), comp.alias("b")
    exact = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < 3)
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
        .agg(F.sum((F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))).alias("d"))
        .collect()
    )
    by_q = {}
    for r in exact:
        by_q.setdefault(r.qid, []).append((r.d, r.nid))
    for qid, pairs in by_q.items():
        for rank, (d, nid) in enumerate(sorted(pairs)[:3], start=1):
            assert rr[(qid, rank)] == (nid, d)
    comp.unpersist()


def test_ivf_pq_narrow_probe_searches_the_querys_own_list(spark):
    """The coarse probe ranks lists by the SAME ascending squared-L2
    metric that assigned them, so at nprobe=1 a corpus-member query
    searches exactly its own list: results must equal pure ADC
    restricted to that list's members (a descending-dot probe ranking
    can prune the query's own list when centroid norms differ)."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import (
        ivf_pq_topk,
        kmeans_fixed,
        pq_adc_topk,
        pq_train,
    )

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 120)
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"]).cache()
    comp.count()
    ivf_cents, assign = kmeans_fixed(comp, k=6, iters=2)
    cents, codes = pq_train(comp, m=4, dim=64, k=8, iters=1)
    assign_map = {r.vec_id: r.list_id for r in assign.collect()}
    q = comp.filter(F.col("vec_id") < 3)

    narrow = ivf_pq_topk(codes, cents, assign, ivf_cents, q, dsub=16, nprobe=1, k_top=4)
    got = {}
    for r in narrow.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.adc_d6))

    for qid in (0, 1, 2):
        own = [v for v, l in assign_map.items() if l == assign_map[qid]]
        in_list = codes.join(
            assign.filter(F.col("list_id") == assign_map[qid]).select("vec_id"), "vec_id"
        )
        expected = [
            (r.rank, r.neighbor_id, r.adc_d6)
            for r in pq_adc_topk(
                in_list, cents, comp.filter(F.col("vec_id") == qid), dsub=16, k_top=4
            ).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(expected), qid
        assert all(nid in own for _, nid, _ in got.get(qid, []))
    comp.unpersist()


def test_rerank_exact_dedupes_unioned_shortlists(spark):
    """A shortlist built by unioning two approximate searches repeats
    pairs; rerank_exact must not double-count their summed distance."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import rerank_exact

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 20)
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"])
    q = comp.filter(F.col("vec_id") < 2)
    pairs = (
        q.select(F.col("vec_id").alias("query_id")).distinct()
        .crossJoin(comp.select(F.col("vec_id").alias("neighbor_id")).distinct())
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    once = rerank_exact(pairs, comp, q, k_top=5).collect()
    twice = rerank_exact(pairs.union(pairs), comp, q, k_top=5).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


def test_pq_train_codes_are_dense_and_empty_train_raises(spark):
    """ADVICE r06: (a) returned codes/codebooks use DENSE 0..k-1 codes,
    never raw seed ids — hash-derived bigint ids would wrap under
    pq_encode's int cast; (b) an empty training frame raises in-plan
    (the semantic_dedup guard) instead of silently yielding empty
    codebooks that make pq_encode drop every row."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import pq_train

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    # shift ids into a far bigint range so seed-id codes would overflow int
    vecs = emb.select(
        (F.col("vec_id") + F.lit(2**40)).alias("vec_id"),
        embedding_fixed(F.col("embedding")).alias("v6"),
    )
    comp = explode_fixed(vecs, ["vec_id"])
    k = 8
    cents, codes = pq_train(comp, m=4, dim=64, k=k, iters=1)
    c_lo, c_hi = cents.agg(F.min("code"), F.max("code")).first()
    assert c_lo == 0 and c_hi < k
    a_lo, a_hi = codes.agg(F.min("code"), F.max("code")).first()
    assert a_lo >= 0 and a_hi < k
    # every assigned code resolves to a codebook entry (the join ADC does)
    orphan = codes.join(
        cents.select("sub", "code").distinct(), ["sub", "code"], "left_anti"
    )
    assert orphan.count() == 0
    # (b) empty training frame: build succeeds (lazy), first action raises
    cents2, _ = pq_train(
        comp, m=4, dim=64, k=k, iters=1, train=comp.filter(F.lit(False))
    )
    with pytest.raises(Exception, match="training frame is empty"):
        cents2.count()


def test_pq_encode_raises_on_null_vector_instead_of_dropping(spark):
    """ADVICE r06: pq_encode must not silently drop rows that produce no
    codes (the old inner join did) — a NULL embedding raises in-plan."""
    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed
    from kafka_workers_spark.operators.similarity import pq_encode, pq_train

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 20)
    vecs = emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6"))
    comp = explode_fixed(vecs, ["vec_id"])
    cents, _ = pq_train(comp, m=4, dim=64, k=8, iters=1)
    cents = cents.cache()
    # happy path: every row encoded, codes dense ints in [0, 8)
    enc = pq_encode(emb, cents, dsub=16)
    assert enc.count() == 20
    row = enc.filter(F.col("vec_id") == 3).select("pq_codes").first()
    assert len(row.pq_codes) == 4 and all(0 <= c < 8 for c in row.pq_codes)
    # poison one row's vector → that row must RAISE, not vanish
    poisoned = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.lit(None).cast("array<float>")).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(Exception, match="pq_encode"):
        pq_encode(poisoned, cents, dsub=16).count()
    cents.unpersist()


@pytest.mark.parametrize("op", ["assign_lists", "pq_encode"])
@pytest.mark.parametrize(
    "vec", [None, [1.0], [1.0, 2.0, 3.0]], ids=["null", "narrower", "wider"]
)
def test_ingest_rejects_null_and_ragged_vectors(spark, op, vec):
    """Bad input at ingest raises instead of being silently wrong: a NULL
    vector must not drop its row, and a vector narrower or wider than the
    codebook must not be encoded over the dims it happens to share with
    it (or yield a short code array). The error names the operator, and
    a NULL vector's error also names the id. Toy codebooks: 2-dim IVF
    centroids, and PQ with m=2, dsub=1."""
    from kafka_workers_spark.operators.similarity import assign_lists, pq_encode

    ivf = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 0), (7, 0, 10**6), (7, 1, 10**6)],
        "list_id long, i int, c6 long",
    )
    pq = spark.createDataFrame(
        [(s, c, 0, c * 10**6) for s in (0, 1) for c in (0, 1)],
        "sub long, code int, j int, c6 long",
    )
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (42, vec)], "vec_id long, embedding array<float>"
    )
    if op == "assign_lists":
        out = assign_lists(df, ivf)
    else:
        out = pq_encode(df, pq, dsub=1)
    with pytest.raises(Exception, match=op) as err:
        out.count()
    if vec is None:
        assert "42" in str(err.value)


def test_hard_negatives_excludes_own_label_and_ranks_by_cosine(spark):
    """Every mined negative has a label different from its query's, and
    the shortlist is exactly the all-label ranking with same-label rows
    removed (the predicate prunes, never reorders)."""
    from kafka_workers_spark.queries.similarity import (
        _ann_scored,
        _topk,
        _vectors_exploded,
        TOP_K,
    )

    exploded, norms = _vectors_exploded(spark, "/root/testdata/sf0.001")
    labels = {r.vec_id: r.label for r in exploded.select("vec_id", "label").distinct().collect()}
    neg = _topk(_ann_scored(exploded, norms, label_mode="different"), TOP_K).collect()
    assert neg and all(labels[r.neighbor_id] != labels[r.query_id] for r in neg)
    # filter-then-rank == rank-over-filtered
    allsc = _ann_scored(exploded, norms).collect()
    by_q = {}
    for r in allsc:
        if labels[r.vec_id] != labels[r.query_id]:
            by_q.setdefault(r.query_id, []).append((-r.cosine, r.vec_id))
    expect = set()
    for qid, rows in by_q.items():
        for rank, (_, vid) in enumerate(sorted(rows)[:TOP_K], 1):
            expect.add((qid, vid, rank))
    assert {(r.query_id, r.neighbor_id, r.rank) for r in neg} == expect
    import pytest as _pt

    with _pt.raises(ValueError, match="label_mode"):
        _ann_scored(exploded, norms, label_mode="nope")


def test_ivf_pq_index_parquet_roundtrip_search_identical(spark, tmp_path):
    """Train the IVFADC pieces once, persist them with ann_write_index,
    reload in a fresh read path, and search — bit-identical to searching
    the in-memory frames (the stored index-once/search-many shape; the
    BM25 round-trip's embedding twin). Unknown layout versions refuse."""
    from kafka_workers_spark.operators.similarity import (
        IvfPqIndex,
        ann_read_index,
        ann_write_index,
        ivf_pq_topk,
        kmeans_fixed,
        pq_train,
    )
    from kafka_workers_spark.queries.similarity import (
        _vectors_exploded,
        _DIM,
        _PQ_DSUB,
        IVF_ITERS,
        K_LISTS,
        N_QUERIES,
        NPROBE,
        PQ_CODES,
        PQ_ITERS,
        PQ_M,
        TOP_K,
        TRAIN_MOD,
    )

    exploded, _ = _vectors_exploded(spark, "/root/testdata/sf0.001")
    comp = exploded.select("vec_id", "i", "x")
    train = comp.filter(F.col("vec_id") % TRAIN_MOD == 0)
    cents, codes = pq_train(comp, m=PQ_M, dim=_DIM, k=PQ_CODES, iters=PQ_ITERS, train=train)
    ivf_cents, assign = kmeans_fixed(comp, k=K_LISTS, iters=IVF_ITERS, train=train)
    q = comp.filter(F.col("vec_id") < N_QUERIES)

    fresh = sorted(map(tuple, ivf_pq_topk(
        codes, cents, assign, ivf_cents, q, dsub=_PQ_DSUB, nprobe=NPROBE, k_top=TOP_K
    ).collect()))

    path = str(tmp_path / "ivfpq")
    ann_write_index(
        IvfPqIndex(ivf_cents, cents, codes, assign, dsub=_PQ_DSUB, id_col="vec_id"),
        path,
    )
    idx = ann_read_index(spark, path)
    assert idx.dsub == _PQ_DSUB and idx.id_col == "vec_id"
    stored = sorted(map(tuple, ivf_pq_topk(
        idx.codes, idx.pq_cents, idx.assign, idx.ivf_cents, q,
        dsub=idx.dsub, nprobe=NPROBE, k_top=TOP_K,
    ).collect()))
    assert stored == fresh and len(fresh) > 0

    spark.createDataFrame(
        [("vec_id", _PQ_DSUB, 999)], "id_col string, dsub int, version int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    import pytest as _pt

    with _pt.raises(ValueError, match="layout version"):
        ann_read_index(spark, path)


def test_rrf_fuse_semantics_and_validation(spark):
    """RRF pin on crafted lists: a neighbor ranked by BOTH lists beats a
    higher-ranked single-list neighbor when the sums say so, scores are
    the exact integer 10^12 DIV (k0+rank) sums, n_lists counts
    agreement, ties break on neighbor_id, and bad params raise."""
    import pytest

    from kafka_workers_spark.operators.similarity import RRF_SCALE, rrf_fuse

    S = "query_id long, neighbor_id long, rank int"
    # list A ranks n10 first, n20 second; list B ranks n20 first, n30 second
    a = spark.createDataFrame([(1, 10, 1), (1, 20, 2)], S)
    b = spark.createDataFrame([(1, 20, 1), (1, 30, 2)], S)
    got = {r.neighbor_id: r for r in rrf_fuse([a, b], top_k=3).collect()}
    c = lambda r: RRF_SCALE // (60 + r)
    assert got[20].rrf_fp == c(2) + c(1) and got[20].n_lists == 2
    assert got[10].rrf_fp == c(1) and got[10].n_lists == 1
    assert got[30].rrf_fp == c(2) and got[30].n_lists == 1
    # both-lists neighbor outranks either single-list neighbor
    assert got[20].rank == 1
    # equal single contributions c(1) vs c(2): 10 beats 30 on score; craft a
    # true tie — same rank in one list each — and check the id tiebreak
    t1 = spark.createDataFrame([(2, 7, 1)], S)
    t2 = spark.createDataFrame([(2, 5, 1)], S)
    tied = {r.neighbor_id: r.rank for r in rrf_fuse([t1, t2], top_k=2).collect()}
    assert tied == {5: 1, 7: 2}
    with pytest.raises(ValueError, match="k0"):
        rrf_fuse([a], top_k=1, k0=0)
    with pytest.raises(ValueError, match="top_k"):
        rrf_fuse([a], top_k=0)
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], top_k=1)


@pytest.mark.slow
def test_ann_append_index_equals_one_pass_and_heals_crashes(spark, tmp_path):
    """Incremental index ingest: build the stored IVFADC index over half
    the corpus, append the other half in two batches — searches over the
    appended index equal searches over codes/assign computed in ONE pass
    with the same stored models (deterministic encoders make append ==
    rebuild). Crash safety: a prior append that died after writing codes
    but before assign leaves orphans; re-running the append skips their
    code rows (no ADC double-count) and completes — and a fully-landed
    batch refuses to append twice."""
    import pytest

    from kafka_workers_spark.operators.similarity import (
        IvfPqIndex,
        ann_append_index,
        ann_read_index,
        ann_write_index,
        assign_lists,
        ivf_pq_topk,
        kmeans_fixed,
        pq_codes_long,
        pq_encode,
        pq_train,
    )
    from kafka_workers_spark.queries.similarity import (
        _vectors_exploded,
        _DIM,
        _PQ_DSUB,
        IVF_ITERS,
        K_LISTS,
        N_QUERIES,
        NPROBE,
        PQ_CODES,
        PQ_ITERS,
        PQ_M,
        TOP_K,
        TRAIN_MOD,
    )
    from kafka_workers_spark.sources.files import load_table

    SF = "/root/testdata/sf0.001"
    vecs = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    half = vecs.filter(F.col("vec_id") % 2 == 0)
    b1 = vecs.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 1))
    b2 = vecs.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 3))

    # models train on the FIRST HALF only (the stored-model contract)
    exploded, _ = _vectors_exploded(spark, SF)
    comp_half = exploded.select("vec_id", "i", "x").filter(F.col("vec_id") % 2 == 0)
    train = comp_half.filter(F.col("vec_id") % TRAIN_MOD == 0)
    pq_cents, _ = pq_train(comp_half, m=PQ_M, dim=_DIM, k=PQ_CODES, iters=PQ_ITERS, train=train)
    ivf_cents, _ = kmeans_fixed(comp_half, k=K_LISTS, iters=IVF_ITERS, train=train)

    codes_half = pq_codes_long(
        pq_encode(half, pq_cents, _PQ_DSUB, id_col="vec_id"), id_col="vec_id"
    )
    assign_half = assign_lists(half, ivf_cents, id_col="vec_id").select(
        "vec_id", "list_id"
    )
    path = str(tmp_path / "ivfpq_inc")
    ann_write_index(
        IvfPqIndex(ivf_cents, pq_cents, codes_half, assign_half,
                   dsub=_PQ_DSUB, id_col="vec_id"),
        path,
    )

    # batch 1 appends cleanly; batch 2 first CRASHES mid-append (codes
    # landed, assign not), then the retry heals it
    ann_append_index(spark, path, b1)
    orphan_codes = pq_codes_long(
        pq_encode(b2, pq_cents, _PQ_DSUB, id_col="vec_id"), id_col="vec_id"
    )
    orphan_codes.write.mode("append").parquet(f"{path}/codes")  # simulated crash
    ann_append_index(spark, path, b2)  # retry: skips orphans, commits assign

    idx = ann_read_index(spark, path)
    n_vecs = vecs.count()
    assert idx.assign.count() == n_vecs
    assert idx.codes.count() == n_vecs * PQ_M, "orphan codes were duplicated"

    # append == one-pass encode at the same models, search-identical
    codes_all = pq_codes_long(
        pq_encode(vecs, pq_cents, _PQ_DSUB, id_col="vec_id"), id_col="vec_id"
    )
    assign_all = assign_lists(vecs, ivf_cents, id_col="vec_id").select(
        "vec_id", "list_id"
    )
    q = exploded.select("vec_id", "i", "x").filter(F.col("vec_id") < N_QUERIES)
    got = sorted(map(tuple, ivf_pq_topk(
        idx.codes, idx.pq_cents, idx.assign, idx.ivf_cents, q,
        dsub=idx.dsub, nprobe=NPROBE, k_top=TOP_K,
    ).collect()))
    want = sorted(map(tuple, ivf_pq_topk(
        codes_all, pq_cents, assign_all, ivf_cents, q,
        dsub=_PQ_DSUB, nprobe=NPROBE, k_top=TOP_K,
    ).collect()))
    assert got == want and len(got) > 0

    # a fully-landed batch refuses to double-append
    with pytest.raises(ValueError, match="already in the index"):
        ann_append_index(spark, path, b1)


def test_ann_append_index_refuses_dup_ids_and_drifted_orphans(spark, tmp_path):
    """Review r12 guards: (a) duplicate ids WITHIN a batch refuse (they
    would double-count ADC terms before the landed check could see
    them); (b) orphan codes from a crashed append whose retried id now
    carries a DIFFERENT vector refuse instead of silently serving stale
    codes under a fresh assignment."""
    import pytest

    from kafka_workers_spark.operators.similarity import (
        IvfPqIndex,
        ann_append_index,
        ann_write_index,
        assign_lists,
        kmeans_fixed,
        pq_codes_long,
        pq_encode,
        pq_train,
    )
    from kafka_workers_spark.queries.similarity import (
        _vectors_exploded,
        _DIM,
        _PQ_DSUB,
        IVF_ITERS,
        K_LISTS,
        PQ_CODES,
        PQ_ITERS,
        PQ_M,
        TRAIN_MOD,
    )
    from kafka_workers_spark.sources.files import load_table

    SF = "/root/testdata/sf0.001"
    vecs = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    half = vecs.filter(F.col("vec_id") % 2 == 0)
    exploded, _ = _vectors_exploded(spark, SF)
    comp = exploded.select("vec_id", "i", "x").filter(F.col("vec_id") % 2 == 0)
    train = comp.filter(F.col("vec_id") % TRAIN_MOD == 0)
    pq_cents, _ = pq_train(comp, m=PQ_M, dim=_DIM, k=PQ_CODES, iters=PQ_ITERS, train=train)
    ivf_cents, _ = kmeans_fixed(comp, k=K_LISTS, iters=IVF_ITERS, train=train)
    path = str(tmp_path / "idx")
    ann_write_index(
        IvfPqIndex(
            ivf_cents,
            pq_cents,
            pq_codes_long(pq_encode(half, pq_cents, _PQ_DSUB, id_col="vec_id"), id_col="vec_id"),
            assign_lists(half, ivf_cents, id_col="vec_id").select("vec_id", "list_id"),
            dsub=_PQ_DSUB,
            id_col="vec_id",
        ),
        path,
    )
    one = vecs.filter(F.col("vec_id") == 1)
    with pytest.raises(ValueError, match="duplicate ids"):
        ann_append_index(spark, path, one.unionAll(one))
    # orphan drift: land codes for id=1 computed from a DIFFERENT vector
    # (id=3's embedding relabeled as 1), then try to append the real id=1
    fake = vecs.filter(F.col("vec_id") == 3).select(
        F.lit(1).cast("long").alias("vec_id"), "embedding"
    )
    pq_codes_long(
        pq_encode(fake, pq_cents, _PQ_DSUB, id_col="vec_id"), id_col="vec_id"
    ).write.mode("append").parquet(f"{path}/codes")
    with pytest.raises(ValueError, match="DIFFERENT embeddings"):
        ann_append_index(spark, path, one)


def test_kcenter_coreset_known_answer_and_degenerate_k(spark):
    """Greedy k-center (operators.similarity.kcenter_coreset, Gonzalez
    1985) on a hand-checkable 1-D-ish layout: points at 0, 1, 10, 11,
    100 (padded to 2 dims). Seed = min id (point 0); round 1 picks the
    farthest point (100, d²=10000); round 2 the farthest from {0, 100}
    (10 or 11: d² to 0 is 100/121, to 100 is 8100/7921 → min-dists 100
    and 121 → picks 11); ties break by ascending id. k exceeding the
    number of DISTINCT points keeps selecting deterministically with
    radius² = 0 (documented degenerate case)."""
    import pytest

    from kafka_workers_spark.operators.similarity import kcenter_coreset

    pts = spark.createDataFrame(
        [(i, [v, 0]) for i, v in enumerate([0, 1, 10, 11, 100])],
        "vec_id long, v6 array<bigint>",
    )
    got = {
        r.round: (r.center_id, r.radius2)
        for r in kcenter_coreset(pts, k=3).collect()
    }
    assert got[0] == (0, None)
    assert got[1] == (4, 100 * 100)
    assert got[2] == (3, 11 * 11)  # min(121, (100-11)²=7921) = 121
    # k = 1: just the seed
    only = kcenter_coreset(pts, k=1).collect()
    assert len(only) == 1 and only[0].center_id == 0
    # k > distinct points: duplicates at radius² 0, still deterministic
    two = spark.createDataFrame(
        [(1, [0, 0]), (2, [0, 0])], "vec_id long, v6 array<bigint>"
    )
    rows = kcenter_coreset(two, k=3).collect()
    assert [r.radius2 for r in sorted(rows, key=lambda r: r.round)] == [None, 0, 0]
    with pytest.raises(ValueError, match="k "):
        kcenter_coreset(pts, k=0)


def test_kcenter_coreset_matches_python_greedy_replay(spark):
    """Property sweep: on random integer vector sets, the Spark chain
    must reproduce a literal Python replay of Gonzalez's greedy rule
    (min-id seed, max-min-distance selection, ties by id) — selections
    AND radii, for every round; radii must be non-increasing from round
    2 onward (each added center only shrinks coverage distances)."""
    import random

    from kafka_workers_spark.operators.similarity import kcenter_coreset

    rng = random.Random(49157)
    for trial in range(3):
        n, dim = rng.randint(5, 24), rng.randint(2, 5)
        pts = {i: [rng.randint(-50, 50) for _ in range(dim)] for i in range(n)}
        k = rng.randint(2, min(8, n))

        def d2(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        centers = [min(pts)]
        expect = [(0, centers[0], None)]
        mind = {i: d2(v, pts[centers[0]]) for i, v in pts.items()}
        for r in range(1, k):
            nxt = max(pts, key=lambda i: (mind[i], -i))
            expect.append((r, nxt, mind[nxt]))
            for i, v in pts.items():
                mind[i] = min(mind[i], d2(v, pts[nxt]))
        df = spark.createDataFrame(
            [(i, v) for i, v in pts.items()], "vec_id long, v6 array<bigint>"
        )
        got = [
            (r.round, r.center_id, r.radius2)
            for r in sorted(kcenter_coreset(df, k=k).collect(),
                            key=lambda r: r.round)
        ]
        assert got == expect, f"trial {trial}: {got} != {expect}"
        radii = [r2 for _, _, r2 in got[1:]]
        assert all(a >= b for a, b in zip(radii, radii[1:])), radii


# ---------------------------------------------------------------------------
# _lloyd's one-task path against the forced Spark loop
# ---------------------------------------------------------------------------

_TRAIN_LIMIT = "kafka_workers_spark.operators.similarity._LOCAL_MAX_TRAIN"


def _long_frame(spark, vecs: dict):
    """``{vec_id: [x, ...]}`` → long ``(vec_id, i, x)`` rows."""
    return spark.createDataFrame(
        [(v, i, x) for v, xs in vecs.items() for i, x in enumerate(xs)],
        "vec_id long, i int, x long",
    )


def _random_vecs(seed: int, n: int, dim: int, lo: int, hi: int) -> dict:
    import random

    rng = random.Random(seed)
    vecs = {v: [rng.randint(lo, hi) for _ in range(dim)] for v in rng.sample(range(10 * n), n)}
    first, second = sorted(vecs)[:2]
    vecs[second] = list(vecs[first])  # a duplicated seed: its cluster empties
    return vecs


def _train_both(monkeypatch, fn):
    """``fn()`` → frames, collected on the one-task path and on the
    forced loop: (schema, sorted rows) per frame, or the error text."""

    def run():
        try:
            return [(f.schema.simpleString(), sorted(map(tuple, f.collect()))) for f in fn()]
        except Exception as e:  # noqa: BLE001 — compared across paths
            return ("raised", type(e).__name__)

    local = run()
    with monkeypatch.context() as m:
        m.setattr(_TRAIN_LIMIT, -1)
        loop = run()
    return local, loop


_VEC_SETS = {
    "small_negative": (11, 30, 6, -7, 3),
    "wide_range": (12, 60, 8, -10**6, 10**6),
    "large_but_exact": (13, 25, 4, -10**8, 10**8),
}


@pytest.mark.parametrize("iters", [0, 1, 3])
@pytest.mark.parametrize("vec_set", sorted(_VEC_SETS))
def test_lloyd_one_task_path_matches_forced_loop(spark, monkeypatch, vec_set, iters):
    """kmeans_fixed and pq_train train bit-identical codebooks and
    assignments (values and column types) on the one-task path and on the
    Spark loop: floor-divided means of negative sums, lowest-code ties,
    a duplicated seed whose cluster empties and drops out, per-subspace
    codebooks, a training sample, and ``iters`` 0."""
    from kafka_workers_spark.operators.similarity import kmeans_fixed, pq_train
    from kafka_workers_spark.plans import audit

    vecs = _random_vecs(*_VEC_SETS[vec_set])
    dim = len(next(iter(vecs.values())))
    comp = _long_frame(spark, vecs)
    train = comp.filter(F.col("vec_id") % 3 != 1)
    cents, _ = kmeans_fixed(comp, k=5, iters=iters)
    assert "MapInArrow" in audit(cents).text  # the default really is one task
    for fn in (
        lambda: kmeans_fixed(comp, k=5, iters=iters),
        lambda: kmeans_fixed(comp, k=4, iters=iters, train=train),
        lambda: pq_train(comp, m=2, dim=dim, k=3, iters=iters),
        lambda: pq_train(comp, m=dim // 2, dim=dim, k=4, iters=iters, train=train),
    ):
        local, loop = _train_both(monkeypatch, fn)
        assert local == loop


def test_lloyd_paths_agree_on_bad_and_edge_input(spark, monkeypatch):
    """Input the one-task path does not take — an empty guarded training
    frame, ragged dims, widths that differ between ids, NULL components,
    bigint overflow — raises the loop's own error (or gives the loop's
    result) whatever the limit; an empty corpus trains empty codebooks
    on both paths."""
    from kafka_workers_spark.operators.similarity import kmeans_fixed, pq_train

    from kafka_workers_spark.operators.dedup import embedding_fixed, explode_fixed

    comp = _long_frame(spark, _random_vecs(5, 12, 4, -9, 9))
    empty = comp.filter(F.lit(False))
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 20)
    table = explode_fixed(
        emb.select("vec_id", embedding_fixed(F.col("embedding")).alias("v6")), ["vec_id"]
    )
    cases = {
        "empty_train": (lambda: pq_train(
            table, m=4, dim=64, k=3, iters=1, train=table.filter(F.lit(False))),
            "training frame is empty"),
        "ragged": (lambda: kmeans_fixed(spark.createDataFrame(
            [(1, 0, 5), (1, 1, 7), (2, 1, 9), (2, 2, 100)], "vec_id long, i int, x long"), k=1, iters=1),
            "width mismatch"),
        "widths": (lambda: kmeans_fixed(spark.createDataFrame(
            [(1, 0, 5), (1, 1, 7), (2, 0, 9)], "vec_id long, i int, x long"), k=1, iters=1),
            "vector/centroid width mismatch"),
        "overflow": (lambda: kmeans_fixed(_long_frame(
            spark, {1: [3 * 10**18, 0], 2: [3 * 10**18, 1], 3: [-3 * 10**18, 2]}), k=1, iters=1),
            "(?i)overflow"),
    }
    for name, (fn, msg) in cases.items():
        for limit in (None, -1):
            with monkeypatch.context() as m:
                if limit is not None:
                    m.setattr(_TRAIN_LIMIT, limit)
                cents, assign = fn()  # construction never raises
                with pytest.raises(Exception, match=msg):
                    cents.collect()
                    assign.collect()
    nulls = spark.createDataFrame(
        [(1, 0, 5), (1, 1, None), (2, 0, 9), (2, 1, 4), (3, 0, -2), (3, 1, 1)],
        "vec_id long, i int, x long",
    )
    for fn in (lambda: kmeans_fixed(nulls, k=2, iters=2), lambda: kmeans_fixed(empty, k=3, iters=2)):
        local, loop = _train_both(monkeypatch, fn)
        assert local == loop
    assert _train_both(monkeypatch, lambda: kmeans_fixed(empty, k=3, iters=2))[0][0][1] == []


def test_lloyd_sizing_falls_back_only_on_in_plan_raises(spark):
    """The path choice turns an in-plan ``raise_error`` (a guard's, or
    a ragged widen's) into the loop, which re-raises it lazily; any
    other failure of the sizing job propagates at once."""
    from kafka_workers_spark.operators.similarity import _fits_one_task

    ids = spark.range(3).select(F.col("id").alias("vec_id"))
    raised = ids.select("vec_id", F.array(F.raise_error(F.lit("guard")).cast("long")).alias("__xs"))
    assert _fits_one_task(raised, "vec_id") is False
    broken = ids.select("vec_id", F.array(F.expr("vec_id div 0")).alias("__xs"))
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _fits_one_task(broken, "vec_id")


def test_lloyd_solver_refuses_what_could_overflow():
    """The numpy solver never wraps: rows whose squared distances or
    cluster sums could leave bigint raise before any arithmetic, and the
    path choice's bound sends them to the loop (whose ANSI arithmetic
    raises on a real overflow)."""
    import math

    import numpy as np

    from kafka_workers_spark.operators.similarity import _int64_exact, _lloyd_solve

    xs = np.array([[3 * 10**18, 0], [-3 * 10**18, 1]], dtype=np.int64)
    with pytest.raises(OverflowError, match="kmeans_fixed"):
        _lloyd_solve(xs, np.array([0]), np.array([0]), 1, "kmeans_fixed")
    assert not _int64_exact(2, 2, -3 * 10**18, 3 * 10**18)
    assert _int64_exact(10**6, 64, -10**6, 10**6)
    # the distance bound is exact at its edge: (2m)² ≤ 2⁶³−1 < (2(m+1))²
    m = math.isqrt((2**63 - 1) // 4)
    assert _int64_exact(1, 1, 0, m) and not _int64_exact(1, 1, 0, m + 1)
