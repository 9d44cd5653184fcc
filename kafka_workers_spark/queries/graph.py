"""Graph-analytics queries: fixed-iteration PageRank in exact
scaled-integer arithmetic (operators/components.py:pagerank), oracled by
unrolling the identical iterations as DuckDB CTEs.

The graph here is the customer→supplier purchase network (orders ⋈
lineitem — a real multi-thousand-node bipartite digraph in the testdata);
the training-pipeline use of the same operator is centrality over the
near-dup pair graph (rank canonical candidates by connectedness). The
reference has no graph surface at all (opaque payloads,
api/task/WorkerTask.java:50) — engine extension, like the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_workers_spark.operators.components import PAGERANK_SCALE, hits, pagerank
from kafka_workers_spark.queries import register
from kafka_workers_spark.sources.files import load_table

_PR_ITERS = 3
_PR_D_NUM, _PR_D_DEN = 17, 20  # damping 0.85 as an exact rational
_S = PAGERANK_SCALE
_D9 = (_S * _PR_D_NUM) // _PR_D_DEN


def _sql_pagerank_ctes(iters: int) -> str:
    """Unroll the exact integer PageRank recurrence as DuckDB CTEs —
    bit-for-bit the operator's plan: same scale, same floor divisions
    (`//` on BIGINT == Spark `DIV`, all operands non-negative), same
    leaked dangling mass. Node ids are parity-tagged (cust*2, supp*2+1)
    so the two TPC-H key spaces cannot collide."""
    ctes = [
        "edges AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({_S} // n AS BIGINT) AS r9 FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM(({_D9} * r.r9 // {_S}) // deg.d) AS s"
            f" FROM edges e JOIN {prev} r ON r.node = e.src"
            f" JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST(({_S} - {_D9}) // nn.n + COALESCE(c{i}.s, 0) AS BIGINT) AS r9"
            f" FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.node = nodes.node)"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_pagerank",
    f"""
    WITH {_sql_pagerank_ctes(_PR_ITERS)}
    SELECT node, r9, CAST(r9 AS DOUBLE) / {_S} AS rank
    FROM r{_PR_ITERS}
    """,
    category="graph",
    # rotated INTO the driver window round 8 for join_full_outer
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration exact-integer PageRank (Page et al. 1999;
    operators.components.pagerank) over the customer→supplier purchase
    digraph: distinct (cust, supp) edges from orders ⋈ lineitem, node
    ids parity-tagged to disambiguate the key spaces, {_PR_ITERS}
    damped rounds at d = 17/20. The oracle unrolls the identical
    recurrence — every floor division replays, so r9 matches
    bit-for-bit, and the derived double `rank` is one division of
    identical bigints (IEEE-identical)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return pagerank(edges, iters=_PR_ITERS, damping_num=_PR_D_NUM, damping_den=_PR_D_DEN)


_PPR_SEEDS = 3


def _sql_ppr_ctes(iters: int) -> str:
    """Unroll personalized PageRank — _sql_pagerank_ctes with the
    teleport term restricted to the seed set: base mass is
    ``(10^9 − d9) // |S|`` on seeds and ZERO elsewhere, r0 likewise.
    Seeds are the lowest-keyed active customers, picked from the edge
    set itself (ORDER BY + LIMIT = TakeOrderedAndProject both engines),
    so every seed is in the graph by construction."""
    ctes = [
        "edges AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"seeds AS (SELECT DISTINCT src AS node FROM edges ORDER BY node"
        f" LIMIT {_PPR_SEEDS})",
        "ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)",
        f"r0 AS (SELECT nodes.node, CASE WHEN seeds.node IS NOT NULL"
        f" THEN CAST({_S} // ns.n AS BIGINT) ELSE CAST(0 AS BIGINT) END AS r9"
        f" FROM nodes CROSS JOIN ns LEFT JOIN seeds ON seeds.node = nodes.node)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM(({_D9} * r.r9 // {_S}) // deg.d) AS s"
            f" FROM edges e JOIN r{i - 1} r ON r.node = e.src"
            f" JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST(CASE WHEN seeds.node IS NOT NULL"
            f" THEN ({_S} - {_D9}) // ns.n ELSE 0 END"
            f" + COALESCE(c{i}.s, 0) AS BIGINT) AS r9"
            f" FROM nodes CROSS JOIN ns"
            f" LEFT JOIN seeds ON seeds.node = nodes.node"
            f" LEFT JOIN c{i} ON c{i}.node = nodes.node)"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_pagerank_personalized",
    f"""
    WITH {_sql_ppr_ctes(_PR_ITERS)}
    SELECT node, r9, CAST(r9 AS DOUBLE) / {_S} AS rank
    FROM r{_PR_ITERS}
    WHERE r9 > 0
    """,
    category="graph",
    windowed=False,  # new round 15 — EXTRA until rotated in
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW 2002;
    operators.components.pagerank with ``seeds``): random walks with
    restart from the {_PPR_SEEDS} lowest-keyed active customers over
    the same purchase digraph as graph_pagerank — the
    entity-neighborhood relevance score (recommendation / related-
    entity primitive), where rank measures proximity to the seed set
    instead of global centrality. Teleport mass restricts to the seeds
    (zero base elsewhere, integer DIV by |S|); nodes the walk never
    reaches stay at exactly 0 and are filtered IDENTICALLY both sides,
    so the reachable frontier's r9 matches bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_PPR_SEEDS)
    )
    out = pagerank(
        edges,
        iters=_PR_ITERS,
        damping_num=_PR_D_NUM,
        damping_den=_PR_D_DEN,
        seeds=seeds,
    )
    return out.filter(F.col("r9") > 0)


_HITS_ROUNDS = 2


def _sql_hits_ctes(rounds: int) -> str:
    """Unroll integer HITS — per half-round one aggregate over the
    previous scores plus a MAX normalization computed over the SAME
    zero-filled full node frame the operator normalizes (so an
    in-edge-less node's zero participates identically both sides); the
    normalization product runs in HUGEINT, mirroring the operator's
    DECIMAL(38,0) (`//` == Spark DIV on non-negatives)."""
    ctes = [
        "edges AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, CAST({_S} AS BIGINT) AS h9 FROM nodes)",
    ]
    for i in range(1, rounds + 1):
        for raw, out, prev_tbl, prev_col, e_from, e_to in (
            (f"araw{i}", f"a{i}", f"h{i - 1}", "h9", "src", "dst"),
            (f"hraw{i}", f"h{i}", f"a{i}", "a9", "dst", "src"),
        ):
            col = "a9" if out.startswith("a") else "h9"
            ctes.append(
                f"{raw} AS (SELECT e.{e_to} AS node, SUM(p.{prev_col}) AS v"
                f" FROM edges e JOIN {prev_tbl} p ON p.node = e.{e_from}"
                f" GROUP BY e.{e_to})"
            )
            ctes.append(
                f"{raw}m AS (SELECT MAX(COALESCE(r.v, 0)) AS m"
                f" FROM nodes LEFT JOIN {raw} r ON r.node = nodes.node)"
            )
            ctes.append(
                f"{out} AS (SELECT nodes.node,"
                f" CAST(CAST(COALESCE(r.v, 0) AS HUGEINT) * {_S}"
                f" // GREATEST(m.m, 1) AS BIGINT) AS {col}"
                f" FROM nodes CROSS JOIN {raw}m m"
                f" LEFT JOIN {raw} r ON r.node = nodes.node)"
            )
    return ",\n    ".join(ctes)


@register(
    "graph_hits",
    f"""
    WITH {_sql_hits_ctes(_HITS_ROUNDS)}
    SELECT nodes.node,
           CAST(COALESCE(h.h9, 0) AS BIGINT) AS hub9,
           CAST(COALESCE(a.a9, 0) AS BIGINT) AS auth9
    FROM nodes
    LEFT JOIN h{_HITS_ROUNDS} h ON h.node = nodes.node
    LEFT JOIN a{_HITS_ROUNDS} a ON a.node = nodes.node
    """,
    category="graph",
    windowed=False,  # new round 15 — EXTRA until rotated in
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer HITS (Kleinberg JACM 1999;
    operators.components.hits): hubs & authorities over the purchase
    digraph — on this bipartite graph hubs land on customers ("broad
    buyers") and authorities on suppliers ("widely bought"), the
    complement to graph_pagerank's single centrality. MAX normalization
    per half-step keeps the whole chain in exact scaled integers
    (top score each half-step is exactly 10^9), so the oracle's
    unrolled rounds match bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return hits(edges, rounds=_HITS_ROUNDS)


# ---------------------------------------------------------------------------
# Triangle counts over the near-dup candidate graph
# ---------------------------------------------------------------------------

_TRI_SHINGLES_SQL = None  # built below from the dedup family's builders


def _sql_tri() -> str:
    from kafka_workers_spark.operators.text import sql_word_shingles

    shingles = sql_word_shingles("string_split(text, ' ')", 3)
    return f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct([substr(md5(sh), 1, 16) FOR sh IN {shingles}]) AS hashes
      FROM documents
    ), keyed AS (
      SELECT doc_id, list_aggregate(hashes, 'min') AS block_key
      FROM docs WHERE len(hashes) > 0
    ), e AS (
      SELECT a.doc_id AS lo, b.doc_id AS hi
      FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    ), w AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM e e1 JOIN e e2 ON e2.lo = e1.hi
    ), t AS (
      SELECT w.a, w.b, w.c FROM w JOIN e ON e.lo = w.a AND e.hi = w.c
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT UNNEST([a, b, c]) AS node FROM t)
    GROUP BY node
    """


@register(
    "graph_triangles",
    _sql_tri(),
    category="graph",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the min-shingle-blocked
    near-dup candidate graph (operators.components.triangle_counts,
    Schank-Wagner ordered orientation): triangles separate tight
    duplicate CLIQUES from chance pairwise collisions — the local
    clustering numerator of the dedup graph, oriented by node id (the
    oracle-replayable order)."""
    from kafka_workers_spark.operators.components import triangle_counts
    from kafka_workers_spark.operators.text import shingle_stage, tokenize_stage

    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(tokenize_stage(d.select("doc_id", "text")), 3, distinct=True)
    keyed = (
        staged.select("doc_id", F.explode_outer("shingles").alias("__sh"))
        .select("doc_id", F.substring(F.md5("__sh"), 1, 16).alias("__h"))
        .groupBy("doc_id")
        .agg(F.min("__h").alias("block_key"))
        .filter(F.col("block_key").isNotNull())
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    edges = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Label-propagation communities over the purchase graph
# ---------------------------------------------------------------------------

_LPA_ITERS = 3


def _sql_lpa_ctes(iters: int) -> str:
    """Unroll the deterministic LPA recurrence as DuckDB CTEs — same
    symmetrized adjacency, same self-vote, same (count DESC, label ASC)
    argmax each round."""
    ctes = [
        "e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "adj AS (SELECT DISTINCT s, d FROM ("
        "SELECT src AS s, dst AS d FROM e0 UNION ALL SELECT dst, src FROM e0"
        ") WHERE s <> d)",
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM adj)",
    ]
    for i in range(1, iters + 1):
        prev = f"l{i - 1}"
        ctes.append(
            f"v{i} AS (SELECT a.d AS node, l.label FROM {prev} l"
            f" JOIN adj a ON l.node = a.s"
            f" UNION ALL SELECT node, label FROM {prev})"
        )
        ctes.append(
            f"c{i} AS (SELECT node, label, COUNT(*) AS c FROM v{i} GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, label FROM ("
            f"SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node"
            f" ORDER BY c DESC, label ASC) AS rn FROM c{i}) WHERE rn = 1)"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_label_propagation",
    f"""
    WITH {_sql_lpa_ctes(_LPA_ITERS)}
    SELECT node, label FROM l{_LPA_ITERS}
    """,
    category="graph",
    windowed=False,  # new round 12 — EXTRA until rotated in
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities
    (operators.components.label_propagation, Raghavan et al. 2007) over
    the same customer→supplier purchase graph as graph_pagerank: 3
    rounds of most-common-neighbor-label with a self-vote and
    (count DESC, label ASC) tie-break — pure long counts + one
    deterministic argmax per round, so the oracle unrolls the identical
    recurrence and the whole labeling rides the value hash. Complements
    dedup_group_components: components = reachability, LPA = dense
    sub-communities within a component."""
    from kafka_workers_spark.operators.components import label_propagation

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return label_propagation(edges, iters=_LPA_ITERS)


_KCORE_K = 10
_KCORE_ITERS = 3


def _sql_kcore_ctes(k: int, iters: int) -> str:
    """Unroll the synchronous peel as a LINEAR chain of CTEs: each round
    references the previous round exactly ONCE (degree via two window
    counts over the symmetric edge list, then the filter), because a
    twice-referenced CTE chain re-evaluates exponentially when the
    engine inlines instead of materializing — probed while wiring this:
    the join-shaped unroll (k_i FROM e_{i-1} joined back to e_{i-1})
    took minutes at 8 rounds where this form takes 0.4 s."""
    ctes = [
        "sym AS (SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "e0 AS (SELECT s, d FROM sym UNION SELECT d, s FROM sym)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"e{i} AS (SELECT s, d FROM ("
            f"SELECT s, d, COUNT(*) OVER (PARTITION BY s) AS ds,"
            f" COUNT(*) OVER (PARTITION BY d) AS dd"
            f" FROM e{i - 1}) WHERE ds >= {k} AND dd >= {k})"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_kcore",
    f"""
    WITH {_sql_kcore_ctes(_KCORE_K, _KCORE_ITERS)}
    SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{_KCORE_ITERS} GROUP BY 1
    """,
    category="graph",
    windowed=False,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the purchase network
    (operators.components.kcore, Seidman 1983): nodes surviving
    {_KCORE_ITERS} synchronous peel rounds at k={_KCORE_K}, with their
    degree in the surviving subgraph — the dense-core extraction that
    ranks dedup-canonical candidates and prunes weakly-connected noise
    before community detection. Pure integer degrees; the oracle
    unrolls the identical rounds (the pagerank discipline) as a
    LINEAR CTE chain (see _sql_kcore_ctes on why never twice-referenced).
    The multi-round peel cascade itself is pinned on a tail-on-triangle
    graph in tests/test_components.py — this TPC-H graph's uniform
    degrees converge in one round at any k."""
    from kafka_workers_spark.operators.components import kcore

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return kcore(edges, k=_KCORE_K, iters=_KCORE_ITERS)


_NJ_MIN_COMMON = 10


@register(
    "graph_neighbor_jaccard",
    f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1
    ), common AS (
      SELECT a.s AS node_a, b.s AS node_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_NJ_MIN_COMMON}
    )
    SELECT c.node_a, c.node_b, c.n_common,
           da.d AS deg_a, db.d AS deg_b,
           CAST(c.n_common AS DOUBLE)
             / CAST(da.d + db.d - c.n_common AS DOUBLE) AS jaccard
    FROM common c
    JOIN deg da ON da.s = c.node_a
    JOIN deg db ON db.s = c.node_b
    """,
    category="graph",
    windowed=False,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-to-supplier similarity by shared-customer overlap
    (operators.components.neighbor_jaccard): the co-occurrence/
    collaborative-filtering wedge join — pairs via two purchase edges
    meeting at one customer (Σ deg² cost, never |suppliers|²), Jaccard
    as one IEEE division of exact long counts. The training-pipeline
    twin is document similarity by shared near-dup partners."""
    from kafka_workers_spark.operators.components import neighbor_jaccard

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return neighbor_jaccard(edges, min_common=_NJ_MIN_COMMON)


# ---------------------------------------------------------------------------
# Multi-source BFS blast radius (round 15)
# ---------------------------------------------------------------------------

_BFS_HOPS = 4
_BFS_SEEDS = 3


@register(
    "graph_bfs_reach",
    f"""
    WITH RECURSIVE
    edges0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    adj AS (
      SELECT src, dst FROM edges0 WHERE src <> dst
      UNION
      SELECT dst AS src, src AS dst FROM edges0 WHERE src <> dst
    ),
    seeds AS (
      SELECT s_suppkey * 2 + 1 AS node FROM (
        SELECT s_suppkey,
               ROW_NUMBER() OVER (ORDER BY s_acctbal, s_suppkey) AS rn
        FROM supplier
      ) WHERE rn <= 3
    ),
    walk(node, hops) AS (
      SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds
      UNION
      SELECT a.dst AS node, w.hops + 1 AS hops
      FROM walk w JOIN adj a ON a.src = w.node
      WHERE w.hops < {_BFS_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM walk GROUP BY node
    """,
    category="graph",
    # rotated INTO the driver window round 15 second swap (the round's
    # graph-distance flagship; events_sessionize freed the row)
)
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS blast radius (operators.components.bfs_hops):
    minimum hop distance from the {_BFS_SEEDS} lowest-balance suppliers
    (rank-selected with the agg_percentile_disc tiebreak discipline, so
    the seed set is deterministic and nonempty at EVERY test SF) through
    the undirected customer–supplier purchase graph, horizon
    {_BFS_HOPS} — "which entities sit within N relationship hops of a
    flagged one", the distance complement of connected components (the
    training-pipeline use: contamination blast radius through near-dup
    links). Exact integers end to end: layer h is the frontier's
    neighbors anti-joined against everything already labeled, and the
    oracle's recursive CTE accumulates (node, hops) pairs under UNION
    semantics with the same bound, so MIN(hops) replays the BFS layers
    bit-for-bit."""
    from kafka_workers_spark.operators.components import bfs_hops

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # global bottom-3 via sort+limit, NOT a partitionless window: this
    # compiles to TakeOrderedAndProject (per-partition top-k + driver
    # merge of 3-row heads), the sort_limit_topk plan discipline
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .orderBy("s_acctbal", "s_suppkey")
        .limit(_BFS_SEEDS)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    return bfs_hops(edges, seeds, max_hops=_BFS_HOPS)


_SP_ROUNDS = 3


def _sql_shortest_ctes(rounds: int) -> str:
    """Unroll the bounded Bellman-Ford rounds as CTEs — bit-for-bit the
    operator's plan (one MIN aggregate over old labels + this round's
    relaxation offers), the _sql_pagerank_ctes discipline. Parallel
    edges collapse to MIN weight before any relaxation, exactly as the
    operator's adjacency build does."""
    ctes = [
        "raw AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,"
        " CAST(l_quantity AS BIGINT) AS w"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "adj AS (SELECT src, dst, MIN(w) AS w FROM ("
        "  SELECT src, dst, w FROM raw WHERE src <> dst"
        "  UNION ALL SELECT dst, src, w FROM raw WHERE src <> dst"
        ") GROUP BY 1, 2)",
        "seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier"
        " ORDER BY s_acctbal, s_suppkey LIMIT 3)",
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS cost FROM seeds)",
    ]
    for i in range(1, rounds + 1):
        prev = f"d{i - 1}"
        ctes.append(
            f"d{i} AS (SELECT node, MIN(cost) AS cost FROM ("
            f"  SELECT node, cost FROM {prev}"
            f"  UNION ALL"
            f"  SELECT a.dst AS node, p.cost + a.w AS cost"
            f"  FROM {prev} p JOIN adj a ON a.src = p.node"
            f") GROUP BY node)"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_shortest_cost",
    f"""
    WITH {_sql_shortest_ctes(_SP_ROUNDS)}
    SELECT node, cost FROM d{_SP_ROUNDS}
    """,
    category="graph",
    windowed=False,  # new round 15 — EXTRA until rotated in
)
def graph_shortest_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford (operators.components.shortest_paths): the
    cheapest quantity-weighted route from the {_BFS_SEEDS} lowest-
    balance suppliers within {_SP_ROUNDS} undirected purchase-graph
    edges — the weighted companion to graph_bfs_reach (hop distance
    says "how many relationships away"; this says "how cheap is the
    cheapest route"). Parallel (cust, supp) edges collapse to their MIN
    l_quantity before relaxation; costs are pure BIGINT sums and the
    oracle unrolls the identical MIN-relaxation rounds as CTEs, so the
    result replays bit-for-bit."""
    from kafka_workers_spark.operators.components import shortest_paths

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .orderBy("s_acctbal", "s_suppkey")
        .limit(_BFS_SEEDS)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    return shortest_paths(
        edges, seeds, rounds=_SP_ROUNDS, weight_col="w"
    )
