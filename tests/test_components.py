"""Connected-components dedup grouping vs a union-find oracle.

The operator (operators/components.py) is iterative — not expressible as
one SQL statement — so its oracle is a driver-side union-find replay of
the same edge list (the same approach the reference takes for its offset
range algebra: semantic model as test oracle, SURVEY.md §5).
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from kafka_workers_spark.operators.components import connected_components, dedup_groups


# AQE off module-wide — shared conftest fixture, see its docstring
_no_aqe = pytest.fixture(scope="module", autouse=True)(lambda no_aqe: None)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member
    comp: dict[int, int] = {}
    for n in parent:
        comp[n] = find(n)
    return comp


def _check(spark, edges: list[tuple[int, int]]) -> None:
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_components_basic_shapes(spark):
    # chain (worst diameter), triangle, two merged clusters, singleton
    # pair — on disjoint id ranges in ONE call: connected components is
    # inherently multi-component, so one run exercises every shape while
    # paying the per-round job latency once, not per graph
    _check(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5)]                  # chain
        + [(10, 11), (11, 12), (10, 12)]                  # triangle
        + [(21, 22), (23, 24), (22, 23), (27, 28)],       # merge + pair
    )


def test_components_random_graphs(spark):
    # three independent 60-node random graphs on disjoint id ranges,
    # resolved in one call (same rationale as basic_shapes)
    rng = random.Random(7)
    edges = []
    for g in range(3):
        base = g * 1000
        es = [(base + rng.randrange(60), base + rng.randrange(60)) for _ in range(45)]
        edges += [(a, b) for a, b in es if a != b]
    _check(spark, edges)


def test_components_empty_and_negative_ids(spark):
    """Edge cases of the round-15 sum-equality convergence: an EMPTY pair
    set must converge to an empty labeling (the coalesced 0-sum repeats
    immediately — no infinite loop, no raise), and NEGATIVE node ids
    (hash-derived id spaces) must resolve exactly — the label sum is
    strictly decreasing until the fixed point for any sign, which is the
    property the convergence check rides."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).collect() == []
    _check(spark, [(-5, -3), (-3, 7), (2, -9), (100, 101)])
    # input self-pairs: never duplicate edge/label rows, and a node
    # appearing ONLY in a self-pair is still returned as its own group
    selfp = spark.createDataFrame([(3, 3), (1, 2)], "doc_a long, doc_b long")
    got = {r.node: r.comp for r in connected_components(selfp).collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def test_dedup_groups_bridging_doc_merges_clusters(spark):
    """The exact-resolution property the greedy rule lacks: doc 3 bridging
    {1,3} and {3,5} yields ONE group with canonical 1 — nothing deleted
    twice, no orphaned tail."""
    docs = spark.range(1, 7).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a long, doc_b long")
    out = {r.doc_id: (r.group_id, r.is_canonical) for r in dedup_groups(pairs, docs).collect()}
    assert out[1] == (1, True)
    assert out[3] == (1, False)
    assert out[5] == (1, False)
    # untouched docs are their own singleton groups
    assert out[2] == (2, True) and out[4] == (4, True) and out[6] == (6, True)


def test_components_nonconvergence_raises(spark, monkeypatch):
    """A chain longer than max_rounds must raise, not silently return
    labels that would leave several survivors in one group."""
    import pytest

    monkeypatch.setattr("kafka_workers_spark.operators.components._LOCAL_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_rounds=3)
    # and the same graph converges fine with enough rounds
    got = {r.node: r.comp for r in connected_components(df, max_rounds=15).collect()}
    assert set(got.values()) == {0}


def test_components_nonconvergence_reports_actions_and_steps(spark, monkeypatch):
    """max_rounds bounds ACTIONS, each batching several propagate steps;
    the error names both so the bound reads honestly."""
    monkeypatch.setattr("kafka_workers_spark.operators.components._LOCAL_MAX_EDGES", 0)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    with pytest.raises(
        RuntimeError, match=r"1 actions \(2 propagate steps, 2 per action\)"
    ):
        connected_components(path, max_rounds=1)


def test_components_checkpoint_dir_grows_one_rdd_per_round(spark, tmp_path, monkeypatch):
    """With a reliable checkpoint dir set, only the carried round labels
    are reliably checkpointed — the batched step's scratch pin stays
    local — so one call leaves at most rounds + 1 RDD dirs. The session's
    checkpoint dir is restored to unset afterwards."""
    import os

    monkeypatch.setattr("kafka_workers_spark.operators.components._LOCAL_MAX_EDGES", 0)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "ckpt"
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    sc.setCheckpointDir(str(ckpt))
    try:
        got = {r.node: r.comp for r in connected_components(chain, stats=stats).collect()}
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert set(got.values()) == {0}
    rdd_dirs = [d for _, ds, _ in os.walk(ckpt) for d in ds if d.startswith("rdd-")]
    assert stats["rounds"] >= 2
    assert len(rdd_dirs) <= stats["rounds"] + 1, (len(rdd_dirs), stats)


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    """PassJoin blocking completeness: on a randomized corpus of near-dup
    mutations (substitutions/inserts/deletes around shared stems, plus
    empty and sub-k-length strings), the blocked join must return
    EXACTLY the brute-force O(n²) pair set with exact distances — a
    missed candidate here means the segment windows are wrong."""
    from kafka_workers_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(0xED17)
    alphabet = "abcdef"
    stems = ["".join(rng.choice(alphabet) for _ in range(rng.randint(6, 30))) for _ in range(12)]
    rows = []
    rid = 0
    for stem in stems:
        for _ in range(rng.randint(1, 4)):
            s = list(stem)
            for _ in range(rng.randint(0, 5)):
                op = rng.choice("sid")
                pos = rng.randrange(max(1, len(s)))
                if op == "s" and s:
                    s[pos] = rng.choice(alphabet)
                elif op == "i":
                    s.insert(pos, rng.choice(alphabet))
                elif op == "d" and s:
                    del s[pos]
            rows.append((rid, "".join(s)))
            rid += 1
    rows += [(rid, ""), (rid + 1, "ab"), (rid + 2, "a"), (rid + 3, None)]
    k = 3
    expect = set()
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1:]:
            if ta is None or tb is None:
                continue
            ed = _py_levenshtein(ta, tb)
            if ed <= k:
                expect.add((min(ia, ib), max(ia, ib), ed))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b, r.edit_distance)
        for r in edit_distance_pairs(df, k=k).collect()
    }
    assert got == expect, (sorted(expect - got)[:5], sorted(got - expect)[:5])


def test_edit_distance_pairs_rejects_oversized_k(spark):
    from kafka_workers_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="fan-out"):
        edit_distance_pairs(df, k=17)


def test_components_chain_labels_and_rounds(spark, monkeypatch):
    """A 12-node chain (the wavefront-depth shape the label shortcuts
    target) resolves to one component labelled 1, and the stats hook
    reports the action count: 4 rounds of two propagate steps each."""
    monkeypatch.setattr("kafka_workers_spark.operators.components._LOCAL_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    stats = {}
    comp = connected_components(edges, stats=stats)
    assert {(r.node, r.comp) for r in comp.collect()} == {(i, 1) for i in range(1, 13)}
    assert stats["rounds"] == 4


def test_components_local_solve_equals_loop(spark, monkeypatch):
    """An edge list that fits one partition is solved on the driver; it
    must equal the round loop (forced with a zero size limit) value for
    value and in schema, on seeded random graphs carrying every input
    edge case: NULL endpoints, a node paired only with NULL (a
    singleton), self-pairs, duplicate and reversed pairs, negative ids,
    ids at the ±2⁶³ bounds — and on an empty edge set (a limit of −1
    sends even that one through the loop). The local path reports 0
    rounds."""
    lo, hi = -(2**63), 2**63 - 1
    rng = random.Random(2026)
    graphs = [[]]
    for _ in range(2):
        ids = [rng.randrange(-40, 40) for _ in range(30)] + [lo, lo + 1, hi - 1, hi]
        es = [(rng.choice(ids), rng.choice(ids)) for _ in range(45)]
        es += [(b, a) for a, b in es[:8]] + es[:4]
        es += [(a, a) for a in ids[:4]]
        es += [(None, rng.choice(ids)), (rng.choice(ids), None), (None, None), (777, None)]
        graphs.append(es)
    for es in graphs:
        df = spark.createDataFrame(es, "doc_a long, doc_b long")
        stats: dict = {}
        local = connected_components(df, stats=stats)
        with monkeypatch.context() as m:
            m.setattr(_LIMIT, -1)
            loop = connected_components(df)
        got = sorted(map(tuple, local.collect()))
        assert got == sorted(map(tuple, loop.collect()))
        assert local.schema == loop.schema
        assert local.schema.simpleString() == "struct<node:bigint,comp:bigint>"
        assert stats["rounds"] == 0
        if es:
            assert (777, 777) in got
            assert got == sorted(_union_find(
                [(a, b) for a, b in es if a is not None and b is not None] + [(777, 777)]
            ).items())


#: the local path's size limit; a test that exercises the round loop
#: sets it to 0 (or −1, which also sends an empty edge set to the loop)
_LIMIT = "kafka_workers_spark.operators.components._LOCAL_MAX_EDGES"


def test_components_oracle_cases_on_the_loop(spark, monkeypatch):
    """Every graph of the union-find oracle tests above fits the local
    path; rerun them with the round loop forced, the empty edge set
    included."""
    monkeypatch.setattr(_LIMIT, -1)
    test_components_basic_shapes(spark)
    test_components_random_graphs(spark)
    test_components_empty_and_negative_ids(spark)


def test_components_never_writes_session_conf(spark, monkeypatch):
    """The loop sizes its edge cache from the measured edge count but
    never rewrites the session-global shuffle partition setting: a
    tiny graph sizes to one partition against the session's 8, and a
    query planned concurrently on the same session must not see that."""
    from pyspark.sql.conf import RuntimeConfig

    written = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        written.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    got = {(r.node, r.comp) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    assert "spark.sql.shuffle.partitions" not in written
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_components_loop_reads_but_never_writes_session_conf(spark, monkeypatch):
    """The check above with the round loop forced: its 11 edges size to
    one partition against the session's 8, so the loop compacts its edge
    cache — reading the shuffle partition setting once beside the
    check's own two reads — and still writes nothing."""
    from pyspark.sql.conf import RuntimeConfig

    read = []
    real_get = RuntimeConfig.get

    def recording_get(self, key, *args, **kwargs):
        read.append(key)
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", recording_get)
    monkeypatch.setattr(_LIMIT, 0)
    test_components_never_writes_session_conf(spark, monkeypatch)
    assert read.count("spark.sql.shuffle.partitions") == 3, read


def test_pagerank_matches_python_integer_reference(spark):
    """The scaled-integer recurrence vs a literal Python replay on a
    small digraph with a dangling node (3 has no out-edges — its mass
    leaks, the documented divergence) and an asymmetric hub."""
    from kafka_workers_spark.operators.components import PAGERANK_SCALE, pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (4, 3), (4, 2), (2, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node: r.r9 for r in pagerank(edges, iters=4).collect()
    }

    s, d9 = PAGERANK_SCALE, (PAGERANK_SCALE * 17) // 20
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    deg = {}
    for a, _ in edge_list:
        deg[a] = deg.get(a, 0) + 1
    r = {v: s // n for v in nodes}
    for _ in range(4):
        nxt = {v: (s - d9) // n for v in nodes}
        for a, b in edge_list:
            nxt[b] += (d9 * r[a] // s) // deg[a]
        r = nxt
    assert got == r
    # ranks are positive, mass leaks below the scale (dangling node 3)
    assert all(v > 0 for v in got.values()) and sum(got.values()) < s
    # the hub (3: three in-edges) outranks the dangling-fed periphery
    assert got[3] == max(got.values())


def test_pagerank_personalized_matches_python_reference(spark):
    """Seeded teleport vs a literal Python replay on the same digraph:
    base mass lands ONLY on seeds (integer DIV by |S|), unreachable
    nodes stay at exactly 0, and a seed absent from the graph leaks its
    teleport share (|S| counts it, no node row materializes it)."""
    from kafka_workers_spark.operators.components import PAGERANK_SCALE, pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (4, 3), (4, 2), (2, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    s, d9 = PAGERANK_SCALE, (PAGERANK_SCALE * 17) // 20

    def replay(seed_set, n_seeds, iters=4):
        nodes = sorted({n for e in edge_list for n in e})
        deg = {}
        for a, _ in edge_list:
            deg[a] = deg.get(a, 0) + 1
        r = {v: (s // n_seeds if v in seed_set else 0) for v in nodes}
        for _ in range(iters):
            nxt = {v: ((s - d9) // n_seeds if v in seed_set else 0) for v in nodes}
            for a, b in edge_list:
                nxt[b] += (d9 * r[a] // s) // deg[a]
            r = nxt
        return r

    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.r9 for r in pagerank(edges, iters=4, seeds=seeds).collect()}
    assert got == replay({1}, 1)
    # node 4 has no in-edges and is not a seed: exactly zero
    assert got[4] == 0
    # absent seed 99 dilutes the restart mass but gets no row
    seeds2 = spark.createDataFrame([(1,), (99,)], "node long")
    got2 = {r.node: r.r9 for r in pagerank(edges, iters=4, seeds=seeds2).collect()}
    assert got2 == replay({1}, 2)
    assert 99 not in got2


def test_hits_matches_python_integer_reference(spark):
    """Integer HITS vs a literal Python replay on a small digraph: MAX
    normalization per half-step (top score exactly 10^9), zero-filled
    full node frame in every max, duplicate edges collapse."""
    from kafka_workers_spark.operators.components import PAGERANK_SCALE, hits

    s = PAGERANK_SCALE
    edge_list = [(1, 2), (1, 3), (2, 3), (4, 3), (4, 2), (2, 1), (1, 2)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: (r.hub9, r.auth9) for r in hits(edges, rounds=2).collect()}

    es = sorted(set(edge_list))
    nodes = sorted({n for e in es for n in e})
    hub = {v: s for v in nodes}
    auth = {}

    def norm(d):
        m = max(max(d.values()), 1)
        return {v: d[v] * s // m for v in d}

    for _ in range(2):
        auth = {v: 0 for v in nodes}
        for a, b in es:
            auth[b] += hub[a]
        auth = norm(auth)
        hub = {v: 0 for v in nodes}
        for a, b in es:
            hub[a] += auth[b]
        hub = norm(hub)
    assert got == {v: (hub[v], auth[v]) for v in nodes}
    # the top hub and top authority sit exactly at the scale
    assert max(h for h, _ in got.values()) == s
    assert max(a for _, a in got.values()) == s
    # node 3 is a pure sink: zero hub; node 4 a pure source: zero authority
    assert got[3][0] == 0 and got[4][1] == 0


def test_pagerank_rejects_bad_params(spark):
    from kafka_workers_spark.operators.components import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(edges, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping_num=20, damping_den=20)


def test_pagerank_duplicate_edges_collapse(spark):
    """The edge frame dedups internally: repeating an edge five times
    changes neither degrees nor contributions."""
    from kafka_workers_spark.operators.components import pagerank

    once = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    dup = spark.createDataFrame([(1, 2)] * 5 + [(2, 1)], "src long, dst long")
    a = sorted((r.node, r.r9) for r in pagerank(once, iters=3).collect())
    b = sorted((r.node, r.r9) for r in pagerank(dup, iters=3).collect())
    assert a == b


def test_sorted_neighborhood_known_answer(spark):
    """Window pairs on a hand-ranked corpus: within-block rank adjacency
    only, each unordered pair exactly once at its rank distance, no
    cross-block pairs."""
    from kafka_workers_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "x", "apple pie"),
        (2, "x", "apple pies"),   # rank-adjacent to 1
        (3, "x", "zzz end"),      # rank 3 in block x
        (4, "y", "apple pie"),    # other block — never pairs with x
    ]
    df = spark.createDataFrame(rows, "doc_id long, blk string, key string")
    got = sorted(
        (r.id_a, r.id_b, r.rank_distance)
        for r in sorted_neighborhood_pairs(
            df, sort_key=F.col("key"), block=F.col("blk"), window=2
        ).collect()
    )
    # block x ranks: 1 (apple pie) < 2 (apple pies) < 3 (zzz end)
    assert got == [(1, 2, 1), (1, 3, 2), (2, 3, 1)]


def test_sorted_neighborhood_window_and_payloads(spark):
    from kafka_workers_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, "b", f"k{i:02d}", i * 10) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, blk string, key string, w long")
    out = sorted_neighborhood_pairs(
        df, sort_key=F.col("key"), block=F.col("blk"), window=1, payload_cols=["w"]
    ).collect()
    # window=1: only consecutive ranks, payloads ride along both sides
    assert sorted((r.id_a, r.id_b, r.w_a, r.w_b) for r in out) == [
        (0, 1, 0, 10), (1, 2, 10, 20), (2, 3, 20, 30), (3, 4, 30, 40)
    ]
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, sort_key=F.col("key"), block=F.col("blk"), window=0)


def test_triangle_counts_known_answers_and_degree_orientation(spark):
    """K4 (every node in 3 triangles), a path and a star (none), a
    bridge of two triangles; a random graph matches a brute-force count
    over all node triples. (The name predates the removal of the
    degree-ordered arm.)"""
    from kafka_workers_spark.operators.components import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {r.node: r.n_triangles for r in triangle_counts(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    path_star = [(0, 1), (1, 2), (2, 3), (10, 11), (10, 12), (10, 13)]
    assert triangle_counts(
        spark.createDataFrame(path_star, "src long, dst long")).count() == 0
    # two triangles sharing node 2 (duplicate + reversed edges collapse)
    bridge = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 0), (0, 1)]
    got = {r.node: r.n_triangles for r in triangle_counts(
        spark.createDataFrame(bridge, "src long, dst long")).collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}

    rng = random.Random(13)
    edges = list({(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)})
    df = spark.createDataFrame(edges, "src long, dst long")
    adj = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    want: dict[int, int] = {}
    for a, b, c in itertools.combinations(sorted({n for e in adj for n in e}), 3):
        if (a, b) in adj and (b, c) in adj and (a, c) in adj:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == want and want


def test_pagerank_weighted_matches_python_and_degenerates_to_uniform(spark):
    """Weighted split vs a literal Python replay; all-equal weights give
    EXACTLY the unweighted ranks; duplicate edges sum weights;
    non-positive weights raise."""
    from kafka_workers_spark.operators.components import PAGERANK_SCALE, pagerank

    edge_list = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (4, 3, 5), (4, 2, 5), (2, 1, 2)]
    edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
    got = {r.node: r.r9 for r in pagerank(edges, iters=3, weight_col="w").collect()}

    s, d9 = PAGERANK_SCALE, (PAGERANK_SCALE * 17) // 20
    nodes = sorted({n for a, b, _ in edge_list for n in (a, b)})
    n = len(nodes)
    wsum = {}
    for a, _, w in edge_list:
        wsum[a] = wsum.get(a, 0) + w
    r = {v: s // n for v in nodes}
    for _ in range(3):
        nxt = {v: (s - d9) // n for v in nodes}
        for a, b, w in edge_list:
            nxt[b] += (d9 * r[a] // s) * w // wsum[a]
        r = nxt
    assert got == r

    # equal weights == unweighted, bit for bit
    eq = spark.createDataFrame([(a, b, 7) for a, b, _ in edge_list], "src long, dst long, w long")
    unw = spark.createDataFrame([(a, b) for a, b, _ in edge_list], "src long, dst long")
    assert sorted((x.node, x.r9) for x in pagerank(eq, iters=3, weight_col="w").collect()) == \
        sorted((x.node, x.r9) for x in pagerank(unw, iters=3).collect())

    # duplicate edges sum: (1,2,3) == (1,2,1)+(1,2,2)
    dup = spark.createDataFrame(
        [(1, 2, 1), (1, 2, 2)] + [t for t in edge_list if t[:2] != (1, 2)],
        "src long, dst long, w long",
    )
    assert sorted((x.node, x.r9) for x in pagerank(dup, iters=3, weight_col="w").collect()) == \
        sorted(got.items())

    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with pytest.raises(Exception, match="positive"):
        pagerank(bad, iters=1, weight_col="w").collect()


def test_set_similarity_pairs_complete_vs_brute_force(spark):
    """Prefix filtering finds EVERY pair with J >= t (the WW'07
    completeness guarantee) and nothing below it, across thresholds,
    on a randomized small-vocabulary corpus where near-misses abound."""
    from kafka_workers_spark.operators.dedup import set_similarity_pairs

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    corpus = {
        i: sorted(set(rng.sample(vocab, rng.randint(1, 10)))) for i in range(40)
    }
    df = spark.createDataFrame(
        [(i, toks) for i, toks in corpus.items()], "doc_id long, toks array<string>"
    )
    for num, den in [(1, 2), (3, 4), (9, 10), (1, 1)]:
        got = {
            (r.id_a, r.id_b): (r.n_common, r.n_union)
            for r in set_similarity_pairs(df, "toks", threshold=(num, den)).collect()
        }
        expect = {}
        ids = sorted(corpus)
        for x in ids:
            for y in ids:
                if x >= y:
                    continue
                inter = len(set(corpus[x]) & set(corpus[y]))
                uni = len(set(corpus[x]) | set(corpus[y]))
                if den * inter >= num * uni:
                    expect[(x, y)] = (inter, uni)
        assert got == expect, (num, den)
    import pytest as _pt

    with _pt.raises(ValueError, match="threshold"):
        set_similarity_pairs(df, "toks", threshold=(3, 2))


def test_set_similarity_exact_verify_matches_and_restores_guarantee(spark):
    """exact_verify=True re-verifies surviving pairs on the RAW token
    arrays (ADVICE r09): on a collision-free corpus it returns the
    identical pair set with identical exact counts, and the brute-force
    ground truth holds by construction rather than modulo 60-bit digest
    collisions."""
    from kafka_workers_spark.operators.dedup import set_similarity_pairs

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(15)]
    corpus = {i: sorted(set(rng.sample(vocab, rng.randint(2, 12)))) for i in range(30)}
    df = spark.createDataFrame(
        [(i, toks) for i, toks in corpus.items()], "doc_id long, toks array<string>"
    )
    digest = {
        (r.id_a, r.id_b): (r.n_common, r.n_union, r.jaccard)
        for r in set_similarity_pairs(df, "toks", threshold=(1, 2)).collect()
    }
    exact = {
        (r.id_a, r.id_b): (r.n_common, r.n_union, r.jaccard)
        for r in set_similarity_pairs(
            df, "toks", threshold=(1, 2), exact_verify=True
        ).collect()
    }
    assert exact == digest and len(exact) > 0
    brute = {}
    for x in sorted(corpus):
        for y in sorted(corpus):
            if x < y:
                inter = len(set(corpus[x]) & set(corpus[y]))
                uni = len(set(corpus[x]) | set(corpus[y]))
                if 2 * inter >= uni:
                    brute[(x, y)] = (inter, uni)
    assert {k: v[:2] for k, v in exact.items()} == brute


def test_label_propagation_two_cliques_and_validation(spark):
    """LPA pin on a crafted graph: two 4-cliques {0..3} and {10..13}
    joined by the single bridge 3–10. After 3 rounds every clique
    member must carry ITS clique's minimum label (the self-vote +
    min-label tiebreak drive each clique to its smallest id), the two
    communities must be distinct, and iters < 1 raises."""
    import pytest

    from kafka_workers_spark.operators.components import label_propagation

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iters=3).collect()}
    assert set(got) == {0, 1, 2, 3, 10, 11, 12, 13}
    assert {got[n] for n in (0, 1, 2)} == {0}
    assert {got[n] for n in (11, 12, 13)} == {10}
    # the bridge endpoints stay with their own cliques (each has 3
    # same-clique neighbors vs 1 cross-clique neighbor)
    assert got[3] == 0 and got[10] == 10
    with pytest.raises(ValueError, match="iters"):
        label_propagation(df, iters=0)


def test_kcore_peels_tail_and_keeps_core(spark):
    """Triangle with a 3-node tail, k=2: the tail peels one node per
    round (the synchronous cascade), the triangle is the fixed point.
    Trajectory: iters=1 drops the endpoint, 2 drops the next, 3 reaches
    the 2-core = triangle; further rounds are stable. Degrees count
    distinct neighbors in the surviving subgraph."""
    from kafka_workers_spark.operators.components import kcore

    # triangle 0-1-2, tail 2-3-4-5
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")

    def nodes(iters):
        return {r.node: r.degree for r in kcore(df, k=2, iters=iters).collect()}

    assert set(nodes(1)) == {0, 1, 2, 3, 4}  # 5 peeled (deg 1)
    assert set(nodes(2)) == {0, 1, 2, 3}     # 4 peeled (deg fell to 1)
    assert nodes(3) == {0: 2, 1: 2, 2: 2}    # fixed point: the triangle
    assert nodes(4) == nodes(3)
    # k above the max degree empties the graph
    assert kcore(df, k=4, iters=2).count() == 0
    with pytest.raises(ValueError, match="k "):
        kcore(df, k=0)
    with pytest.raises(ValueError, match="iters"):
        kcore(df, k=2, iters=0)


def test_kcore_symmetrizes_and_ignores_self_loops(spark):
    """Directed duplicates and self-loops must not inflate degrees:
    (a,b) and (b,a) are ONE undirected edge; (a,a) drops."""
    from kafka_workers_spark.operators.components import kcore

    edges = [(0, 1), (1, 0), (0, 0), (1, 2), (0, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.degree for r in kcore(df, k=2, iters=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_select_survivors_prefers_quality_then_min_id(spark):
    """Highest score survives; ties break to the smallest id; every
    member points at its group's survivor; non-numeric ids rejected."""
    from kafka_workers_spark.operators.components import select_survivors

    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, group_id long",
    )
    stats = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)], "doc_id long, n_chars long"
    )
    got = {
        r.doc_id: (r.survivor_id, r.is_survivor)
        for r in select_survivors(groups, stats, "n_chars").collect()
    }
    # group 1: docs 2 and 3 tie at 9 -> min id 2 survives (not min-id 1!)
    assert got == {
        1: (2, False), 2: (2, True), 3: (2, False),
        10: (10, True), 11: (10, False),
    }
    import pytest

    sgroups = groups.select(F.col("doc_id").cast("string").alias("doc_id"), "group_id")
    with pytest.raises(ValueError, match="numeric ids"):
        select_survivors(sgroups, stats, "n_chars")


def test_neighbor_jaccard_wedge_counts(spark):
    """Known bipartite graph: customers {1,2} both buy A and B, customer 3
    buys B and C -> J(A,B) = 2/(2+3-2), J(B,C) = 1/(3+1-1); A-C share
    nothing and never pair; min_common prunes; duplicate edges collapse."""
    from kafka_workers_spark.operators.components import neighbor_jaccard

    edges = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "B"), (3, "C"),
             (1, "A")]  # duplicate edge must not double-count
    df = spark.createDataFrame(edges, "src long, dst string")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.deg_a, r.deg_b, r.jaccard)
        for r in neighbor_jaccard(df, min_common=1).collect()
    }
    assert got == {
        ("A", "B"): (2, 2, 3, 2 / 3),
        ("B", "C"): (1, 3, 1, 1 / 3),
    }
    only = neighbor_jaccard(df, min_common=2).collect()
    assert [(r.node_a, r.node_b) for r in only] == [("A", "B")]
    import pytest

    with pytest.raises(ValueError, match="min_common"):
        neighbor_jaccard(df, min_common=0)


# ---------------------------------------------------------------------------
# Stored components artifact (VERDICT r12 #4)
# ---------------------------------------------------------------------------


def test_components_store_roundtrip_and_validation(spark, tmp_path):
    """components_write/components_read round-trip: stored == fresh
    bit-for-bit; a wrong expected fingerprint, a corrupted meta row
    count, and a future layout version all refuse to serve."""
    from kafka_workers_spark.operators.components import (
        components_read,
        components_write,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "doc_a long, doc_b long"
    )
    comp = connected_components(edges, src="doc_a", dst="doc_b")
    path = str(tmp_path / "cc_store")
    components_write(comp, path, fingerprint="snap-1")
    back = components_read(spark, path, expect_fingerprint="snap-1")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, comp.collect()))
    # stale-input refusal
    with pytest.raises(ValueError, match="stale"):
        components_read(spark, path, expect_fingerprint="snap-2")
    # without an expectation the read serves (caller opted out of pinning)
    assert components_read(spark, path).count() == comp.count()
    # mode=error refuses a second write; overwrite replaces
    with pytest.raises(Exception):
        components_write(comp, path, fingerprint="snap-1")
    components_write(comp.limit(2), path, mode="overwrite", fingerprint="snap-2")
    assert components_read(spark, path, expect_fingerprint="snap-2").count() == 2


@pytest.mark.slow
def test_components_merge_equals_fresh_closure_over_union(spark):
    """components_merge (stored labeling as star edges + new pairs) must
    equal connected_components over (old pairs UNION new pairs) — on a
    batch that bridges two stored components, extends one, and introduces
    brand-new nodes; and on random graphs split arbitrarily into
    old/new batches."""
    from kafka_workers_spark.operators.components import components_merge

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31)], "doc_a long, doc_b long"
    )
    stored = connected_components(old, src="doc_a", dst="doc_b")
    new = spark.createDataFrame(
        [(3, 10),      # bridges {1,2,3} with {10,11}
         (31, 32),     # extends {30,31}
         (50, 51)],    # brand-new component
        "doc_a long, doc_b long",
    )
    merged = {
        (r.node, r.comp)
        for r in components_merge(stored, new).collect()
    }
    fresh = {
        (r.node, r.comp)
        for r in connected_components(
            old.unionByName(new), src="doc_a", dst="doc_b"
        ).collect()
    }
    assert merged == fresh
    # randomized: any old/new split of one edge set merges to the same
    # labeling as the one-shot closure
    rng = random.Random(13)
    for trial in range(3):
        pairs = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(60)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        cut = rng.randrange(1, len(pairs) - 1)
        old_df = spark.createDataFrame(pairs[:cut], "doc_a long, doc_b long")
        new_df = spark.createDataFrame(pairs[cut:], "doc_a long, doc_b long")
        stored_t = connected_components(old_df, src="doc_a", dst="doc_b")
        got = {
            (r.node, r.comp) for r in components_merge(stored_t, new_df).collect()
        }
        want = {
            (r.node, r.comp)
            for r in connected_components(
                old_df.unionByName(new_df), src="doc_a", dst="doc_b"
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_cc_store_serves_fresh_results_and_force_rebuilds(spark, tmp_path, monkeypatch):
    """The fingerprint-keyed store behind dedup_group_components /
    dedup_survivor_quality: first touch builds and publishes, second
    touch serves the identical mapping from parquet (stored == fresh
    bit-for-bit), force_rebuild re-publishes, and the artifact lands
    under the overridable KW_COMPONENTS_STORE root."""
    import os

    from kafka_workers_spark.queries.dedup import _cc_groups, _cc_store

    monkeypatch.setenv("KW_COMPONENTS_STORE", str(tmp_path / "store_root"))
    sf = "/root/testdata/sf0.001"
    fresh = sorted(map(tuple, _cc_groups(spark, sf).collect()))
    first = sorted(map(tuple, _cc_store(spark, sf).collect()))
    assert first == fresh
    # one generation dir + one published symlink pointing at it
    root = str(tmp_path / "store_root")
    links = [d for d in os.listdir(root) if os.path.islink(os.path.join(root, d))]
    gens = [d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")]
    assert len(links) == 1 and len(gens) == 1
    assert os.readlink(os.path.join(root, links[0])) == gens[0]
    # second touch: served from parquet (no new generation), equal
    second = sorted(map(tuple, _cc_store(spark, sf).collect()))
    assert second == fresh
    assert len([d for d in os.listdir(root) if ".v-" in d]) == 1
    # force_rebuild publishes a NEW generation atomically (symlink
    # repoints; the previous generation is retained for in-flight scans)
    third = sorted(map(tuple, _cc_store(spark, sf, force_rebuild=True).collect()))
    assert third == fresh
    gens2 = [d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")]
    assert len(gens2) == 2
    assert os.readlink(os.path.join(root, links[0])) != gens[0]
    # a third rebuild prunes back to two generations (current + previous)
    fourth = sorted(map(tuple, _cc_store(spark, sf, force_rebuild=True).collect()))
    assert fourth == fresh
    assert len([d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")]) == 2


def test_cc_store_prune_never_deletes_served_generation(spark, tmp_path, monkeypatch):
    """ADVICE r13 #2: a crashed rebuild can leave an ORPHANED newer
    generation that was never published — pruning by mtime order alone
    would then delete the generation the symlink still points to,
    breaking the 'previous generation retained for in-flight scans'
    guarantee. Simulate the crash (copy a generation to a newer-mtime
    orphan, leave the link untouched), rebuild, and require the
    pre-rebuild link target to survive the prune."""
    import os
    import shutil
    import time

    from kafka_workers_spark.queries.dedup import _cc_store

    monkeypatch.setenv("KW_COMPONENTS_STORE", str(tmp_path / "store_root"))
    sf = "/root/testdata/sf0.001"
    fresh = sorted(map(tuple, _cc_store(spark, sf).collect()))
    root = str(tmp_path / "store_root")
    link = next(d for d in os.listdir(root) if os.path.islink(os.path.join(root, d)))
    served = os.readlink(os.path.join(root, link))
    # crashed rebuild: a NEWER generation dir exists but was never published
    orphan = served.rsplit("-", 1)[0] + "-orphan"
    shutil.copytree(os.path.join(root, served), os.path.join(root, orphan))
    time.sleep(0.05)
    os.utime(os.path.join(root, orphan))
    # next rebuild must keep the served generation (mtime-oldest now)
    again = sorted(map(tuple, _cc_store(spark, sf, force_rebuild=True).collect()))
    assert again == fresh
    assert os.path.isdir(os.path.join(root, served)), (
        "prune deleted the generation the symlink served before the rebuild"
    )


def test_cc_store_snapshot_id_mode(spark, tmp_path, monkeypatch):
    """VERDICT r13 #7: the production fingerprint mode — an explicit
    snapshot id replaces the per-consumer content scan (zero I/O for the
    key). Same mapping as the scan-keyed store; keyed separately (a new
    snapshot id rebuilds rather than serving the content-keyed
    artifact); a repeat call under the same id serves without building a
    new generation; and the public consumers accept the parameter."""
    import os

    from kafka_workers_spark.queries.dedup import (
        _cc_store,
        dedup_group_components,
    )

    monkeypatch.setenv("KW_COMPONENTS_STORE", str(tmp_path / "store_root"))
    sf = "/root/testdata/sf0.001"
    by_scan = sorted(map(tuple, _cc_store(spark, sf).collect()))
    by_snap = sorted(map(tuple, _cc_store(spark, sf, snapshot_id="v1").collect()))
    assert by_snap == by_scan
    root = str(tmp_path / "store_root")
    n_gens = len([d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")])
    assert n_gens == 2  # one per fingerprint key
    # repeat under the same id: served, no new generation
    assert sorted(map(tuple, _cc_store(spark, sf, snapshot_id="v1").collect())) == by_scan
    assert len([d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")]) == 2
    # the registered consumer surface takes the parameter too
    via_query = dedup_group_components(spark, sf, snapshot_id="v1")
    assert via_query.count() == len(by_scan)


def test_cc_store_generation_names_never_reused_at_steady_state(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 #1: pruning holds the generation population at ~2, so
    a sequence number derived from len(gens) REPEATS at steady state —
    and the repeated name can be the SERVED generation, which the next
    rebuild's mode='overwrite' write would rewrite IN PLACE under any
    concurrent lazy reader. The sequence must come from max(existing
    suffixes)+1: every rebuild publishes a brand-new dir name, strictly
    increasing, and never equal to a name still on disk."""
    import os

    from kafka_workers_spark.queries.dedup import _cc_store

    monkeypatch.setenv("KW_COMPONENTS_STORE", str(tmp_path / "store_root"))
    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "store_root")
    fresh = sorted(map(tuple, _cc_store(spark, sf).collect()))
    link = next(d for d in os.listdir(root) if os.path.islink(os.path.join(root, d)))
    seen: list[str] = []
    for _ in range(4):  # well past the steady-state population of 2
        before = {d for d in os.listdir(root) if ".v-" in d and not d.startswith(".")}
        served_before = os.readlink(os.path.join(root, link))
        assert sorted(map(tuple, _cc_store(spark, sf, force_rebuild=True).collect())) == fresh
        now = os.readlink(os.path.join(root, link))
        # the newly published generation is a dir that did NOT exist
        # before this rebuild — nothing was rewritten in place
        assert now not in before, (
            f"rebuild reused generation name {now!r} — in-place overwrite "
            "of a dir a concurrent reader may be scanning"
        )
        assert now != served_before
        seen.append(now)
    suffixes = [int(g.rsplit("-", 1)[1]) for g in seen]
    assert suffixes == sorted(set(suffixes)), suffixes  # strictly increasing


def test_corpus_fingerprint_snapshot_mode_is_corpus_scoped(spark):
    """ADVICE r14 #3: the store root is shared across datasets, so the
    zero-I/O snapshot fingerprint must fold in a corpus identity — two
    different corpora both tagged 'v1' must never hash to the same store
    key (expect_fingerprint cannot catch it: the fingerprints match)."""
    from kafka_workers_spark.queries.dedup import _corpus_fingerprint

    a = _corpus_fingerprint(spark, "/root/testdata/sf0.001", snapshot_id="v1")
    b = _corpus_fingerprint(spark, "/root/testdata/sf0.01", snapshot_id="v1")
    assert a != b
    # deterministic per (corpus, id): the whole point of the zero-I/O mode
    assert a == _corpus_fingerprint(spark, "/root/testdata/sf0.001", snapshot_id="v1")
    assert a != _corpus_fingerprint(spark, "/root/testdata/sf0.001", snapshot_id="v2")


def test_bfs_hops_known_answers(spark):
    """Multi-source BFS on a hand-drawn graph: path 1-2-3-4-5 plus an
    isolated edge 10-11 and a self-loop. Single seed walks the path in
    layers up to the horizon; a second seed turns hops into the MIN over
    sources; a seed absent from the graph still reports itself at 0;
    unreachable nodes are absent; self-loops never count."""
    from kafka_workers_spark.operators.components import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (3, 3)],
        "src long, dst long",
    )

    def run(seed_ids, max_hops):
        seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
        return dict(
            (r.node, r.hops)
            for r in bfs_hops(edges, seeds, max_hops=max_hops).collect()
        )

    # single seed, horizon 2: layers 0/1/2, nodes past the horizon absent
    assert run([1], 2) == {1: 0, 2: 1, 3: 2}
    # horizon covers the path; the 10-11 component stays unreachable
    assert run([1], 4) == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # multi-source: hops is the MIN over seeds (5 pulls the far end in);
    # edges are undirected (5 reaches 4 against edge direction)
    assert run([1, 5], 2) == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}
    # a seed with no edges reports itself at hops 0
    assert run([99], 3) == {99: 0}
    # duplicate seeds collapse
    assert run([1, 1], 1) == {1: 0, 2: 1}
    with pytest.raises(ValueError, match="max_hops"):
        bfs_hops(edges, spark.createDataFrame([(1,)], "node long"), max_hops=0)


def test_shortest_paths_known_answers(spark):
    """Bounded Bellman-Ford on a hand-drawn weighted graph:

        1 --5-- 2 --1-- 3        direct 1-3 edge costs 10, the 2-hop
        1 --10- 3                route 6 — found only once the horizon
        1 --(3,7)-- 4            allows 2 edges; parallel edges collapse
                                 to MIN; unit-weight mode == bfs layers.
    """
    from kafka_workers_spark.operators.components import bfs_hops, shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (1, 3, 10), (1, 4, 3), (4, 1, 7), (2, 2, 1)],
        "src long, dst long, w long",
    )

    def run(seed_ids, rounds, weight="w"):
        seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
        return dict(
            (r.node, r.cost)
            for r in shortest_paths(
                edges, seeds, rounds=rounds, weight_col=weight
            ).collect()
        )

    # horizon 1: direct edges only (1-3 via the expensive direct edge;
    # the 1-4 parallel pair collapses to 3)
    assert run([1], 1) == {1: 0, 2: 5, 3: 10, 4: 3}
    # horizon 2: the 2-edge route 1-2-3 (cost 6) beats the direct 10
    assert run([1], 2) == {1: 0, 2: 5, 3: 6, 4: 3}
    # multi-source min; undirected relaxation
    assert run([3, 4], 1) == {3: 0, 4: 0, 2: 1, 1: 3}
    # unit weights degenerate to BFS hop layers
    unit = dict(
        (r.node, r.cost)
        for r in shortest_paths(
            edges, spark.createDataFrame([(1,)], "node long"), rounds=2,
            weight_col=None,
        ).collect()
    )
    hops = dict(
        (r.node, r.hops)
        for r in bfs_hops(
            edges, spark.createDataFrame([(1,)], "node long"), max_hops=2
        ).collect()
    )
    assert unit == hops
    # non-positive weight raises in-plan
    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with pytest.raises(Exception, match="positive"):
        shortest_paths(
            bad, spark.createDataFrame([(1,)], "node long"), rounds=1,
            weight_col="w",
        ).collect()
    with pytest.raises(ValueError, match="rounds"):
        shortest_paths(edges, spark.createDataFrame([(1,)], "node long"), rounds=0)


def test_distance_ops_match_python_reference_on_seeded_random_graphs(spark):
    """bfs_hops and shortest_paths vs a plain-Python Dijkstra/BFS over
    seeded random graphs (fixed seeds — the determinism-property
    discipline): multi-source, undirected, parallel edges, self-loops,
    disconnected pockets, and horizons short enough that the bound
    actually cuts — the shapes a hand-drawn fixture under-samples."""
    import heapq
    import random

    from kafka_workers_spark.operators.components import bfs_hops, shortest_paths

    def py_shortest(edge_list, seed_ids, rounds, unit):
        # bounded Bellman-Ford over the min-collapsed symmetric adjacency
        adj: dict[int, dict[int, int]] = {}
        for u, v, w in edge_list:
            if u == v:
                continue
            ww = 1 if unit else w
            for a, b in ((u, v), (v, u)):
                cur = adj.setdefault(a, {})
                cur[b] = min(cur.get(b, ww), ww)
        dist = {s: 0 for s in set(seed_ids)}
        for _ in range(rounds):
            offers = dict(dist)
            for u, c in dist.items():
                for v, w in adj.get(u, {}).items():
                    if c + w < offers.get(v, 1 << 62):
                        offers[v] = c + w
            dist = offers
        return dist

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = rng.randint(8, 20)
        edge_list = [
            (rng.randint(0, n), rng.randint(0, n), rng.randint(1, 9))
            for _ in range(rng.randint(10, 40))
        ]
        seeds = [rng.randint(0, n) for _ in range(rng.randint(1, 3))]
        horizon = rng.randint(1, 4)
        edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
        seed_df = spark.createDataFrame([(s,) for s in set(seeds)], "node long")

        got_hops = dict(
            (r.node, r.hops)
            for r in bfs_hops(edges, seed_df, max_hops=horizon).collect()
        )
        want_hops = py_shortest(edge_list, seeds, horizon, unit=True)
        assert got_hops == want_hops, (seed, "bfs", horizon)

        got_cost = dict(
            (r.node, r.cost)
            for r in shortest_paths(
                edges, seed_df, rounds=horizon, weight_col="w"
            ).collect()
        )
        want_cost = py_shortest(edge_list, seeds, horizon, unit=False)
        assert got_cost == want_cost, (seed, "cost", horizon)


def test_cc_round_pin_bookkeeping_is_per_dataframe_not_global(spark):
    """Regression for the round-15 gate race: connected_components frees
    its superseded round pins by the EXACT RDD id of its own checkpoint
    (kafka_workers_spark.cache.checkpointed_rdd_ids), never by diffing the
    session-global getPersistentRDDs() set — the diff attributed a
    concurrent thread's lazy localCheckpoint to the loop and unpersisted
    it, resetting the victim's storage level to NONE so its later
    materialization died with "Storage level ... is not appropriate for
    local checkpointing".

    Two assertions: (1) checkpointed_rdd_ids returns exactly the
    persisted internal RDD id; (2) a CC run racing a lazy-localCheckpoint
    chain in another thread leaves the chain materializable."""
    from concurrent.futures import ThreadPoolExecutor

    from kafka_workers_spark.cache import checkpointed_rdd_ids

    pinned = spark.range(100).selectExpr("id", "id % 7 as k").localCheckpoint(eager=True)
    ids = checkpointed_rdd_ids(pinned)
    live = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()  # noqa: SLF001
    }
    assert len(ids) == 1 and ids <= live, (ids, live)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "doc_a long, doc_b long"
    )

    def run_cc():
        return connected_components(edges).count()

    def lazy_chain():
        # bpe_train_plan's shape: mark lazily mid-race, materialize after
        df = spark.range(200).selectExpr("id", "id * 2 as x")
        for _ in range(3):
            df = df.selectExpr("id", "x + 1 as x").localCheckpoint(eager=False)
        return df.count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        cc_fut = pool.submit(run_cc)
        chain_fut = pool.submit(lazy_chain)
        assert cc_fut.result() > 0
        assert chain_fut.result() == 200  # raised pre-fix when the race hit


def test_cc_round_pin_bookkeeping_on_the_loop(spark, monkeypatch):
    """The race above with the round loop forced: its 20-pair graph fits
    the local path, which makes no round checkpoints to race."""
    monkeypatch.setattr(_LIMIT, 0)
    test_cc_round_pin_bookkeeping_is_per_dataframe_not_global(spark)
