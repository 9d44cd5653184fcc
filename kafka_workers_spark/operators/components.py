"""Connected components over candidate-pair edges: dedup group resolution.

Near-dup pair generation (operators/dedup.py: LSH bands, simhash bands,
min-shingle blocks) yields an EDGE LIST of similar document pairs. Turning
pairs into dedup decisions needs the transitive closure: documents A-B and
B-C similar means {A, B, C} is one group with one canonical survivor.
``pipeline.near_dedup_lsh`` uses the greedy one-join shortcut (drop any doc
colliding with a lower id — over-deletes chains); this module is the exact
resolution: min-label connected components, the standard production pass.

The reference has no content operators at all (payloads are opaque bytes,
api/task/WorkerTask.java:50); this is part of the engine's training-data
surface.

Algorithm: iterative min-label propagation with LABEL SHORTCUTS (r16
rewrite of the round-15 pointer jump): each step every node takes the
minimum label over its edge neighborhood N(u) ∪ {u} UNION two
label-derived shortcut edges — (u → comp(u)), which delivers
label(comp(u)) (the classic pointer jump comp ← comp[comp], now inside
the same join instead of a second self-join), and (comp(u) → u), the
GATHER direction of hash-to-min (Rastogi et al. ICDE'13): a label
target learns the min of everyone pointing at it. Shortcut labels are
always member ids of the node's own component, so the invariants below
are untouched. Plain propagation advances the min-label wavefront one
edge hop per step, so steps = O(component diameter); the shortcuts make
it a constant factor less on irregular near-dup graphs (sf0.1's
641-node depth-17 component: 18 steps plain → 14 shortcut) and
log-style on chains. Worst case stays O(diameter) — the GUARANTEED
O(log n) bounds (hash-to-min set variant; large-star/small-star,
Kiveris et al. SoCC'14) require rewriting the EDGE set each round, a
corpus-sized shuffle this operator deliberately avoids: edges are
computed once and only the two-longs-per-node label frame iterates.
Each ROUND (checkpoint + one convergence action) batches TWO steps —
the per-round action is a driver round-trip locally and a full cluster
barrier at scale, and batching halved the action count (14 → 8 at
sf0.1) at neutral-to-better local wall (the A/B table at
``_CC_STEPS_PER_ACTION``).
Near-dup graphs are dense clusters with 2-4 hop diameters, so the
edge-rewriting constant factor would never amortize; a pathological
50+-hop chain hits ``max_rounds`` and raises rather than silently
under-merging. Correctness does not depend on the jump: labels are
monotone non-increasing, always member ids of the node's own component,
and the component minimum is a fixed point, so any stable labeling is
constant-per-component at that minimum; jumping only accelerates
convergence.

Local path: the loop's floor is its rounds, not its data — every round
is a driver round-trip (a cluster barrier at scale), which dominates a
live ingest micro-batch whose pair graph has a few hundred nodes. So
the pair rows are held and counted first, and a pair list of at most
``_LOCAL_MAX_EDGES`` rows is collected with one ``toArrow()`` and solved
exactly on the driver by a vectorised hook-and-compress union-find
(:func:`_components_local`): no symmetrized edge list, no rounds, no
checkpoints, no convergence sums. Larger graphs run the loop below from
the held rows, unchanged otherwise.

Scale notes:
- Labels are (node, comp) pairs — never payloads — so the per-round
  shuffle is two longs per edge.
- Each round ends in a LAZY ``localCheckpoint`` materialized by the
  convergence aggregate. The checkpoint is mandatory for the iteration,
  not an optimization: the pointer-jump self-join references the round's
  labels twice, so the logical plan DOUBLES per round and Catalyst
  analysis alone OOMs the driver after ~20 rounds. Checkpointing
  truncates lineage to the materialized result. The block-manager caveat
  that rules localCheckpoint out for payload stages
  (operators/dedup.barrier) is acceptable here: the checkpointed state is
  two longs per node, and on a cluster job a configured
  ``sparkContext.setCheckpointDir`` + ``checkpoint()`` swap makes the
  rounds executor-loss-safe.
- Self-loops are folded into the symmetrized edge set, so the propagate
  step is ONE equi-join + ONE min aggregate (min over N(u) ∪ {u}); the
  old shape needed a second join to mix each node's own label back in.
- Convergence is detected from the label sum (DECIMAL(38,0), exact at
  any scale): labels are monotone non-increasing and some label strictly
  decreases in every non-converged round, so sum equality with the
  previous round IS the no-change signal — read from the SAME aggregate
  that materializes the round's checkpoint. One action per round total
  (was two: an eager-checkpoint count + a changed-row scan); measured at
  sf0.1 the 13-round loop fell from ~16 s to ~8 s wall with identical
  labels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

from kafka_workers_spark import store
from kafka_workers_spark.cache import hold, pin, release
from kafka_workers_spark.operators.dedup import barrier


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized distinct adjacency ``(__s, __d)`` built in ONE pass
    over ``edges``: each input row explodes into its two directed rows
    instead of unioning two selects of the source frame. The union shape
    materializes the (often expensive) edge producer once per branch —
    AQE's runtime exchange reuse only shares the deepest common exchange,
    so a pair generator or a multi-table join above it runs twice
    (measured: the round-15 report recorded +40% on CC edge
    materialization per extra union branch of the raw pair source; the
    r16 A/B on the rebuild row confirms the explode form removes it).
    Self-loops and rows with a NULL endpoint are dropped (a NULL id is
    not a node; the old union shape dropped such rows from the edge set
    too, but could leak a singleton label through the self-loop branch —
    now the semantics are uniform and documented).
    Guide §2.4 (remove shuffles/passes outright)."""
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("__s"), F.col(dst).alias("__d")),
            F.struct(F.col(dst).alias("__s"), F.col(src).alias("__d")),
        )
    ).alias("__e")
    return (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(both)
        .select("__e.__s", "__e.__d")
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
    )


#: Propagate steps batched per CC action, A/B'd in r16 (interleaved
#: same-session reps, identical label checksums). Measured at sf0.1
#: (min/med of 3; "pin" = the batched intermediate lazily checkpointed):
#:   steps=1            9.34 / 10.41 s, 14 actions
#:   steps=2 pin=True   9.45 /  9.55 s,  8 actions   <- adopted
#:   steps=2 pin=False 12.13 / 12.81 s,  8 actions   (3x step recompute)
#:   steps=3 pin=True  10.56 / 10.67 s,  6 actions   (plan depth > savings)
#: Locally 2 is median-neutral-to-better; the adoption argument is the
#: action count — every action is a driver round-trip locally and a full
#: cluster barrier at 10^9 edges, and batching halves it.
_CC_STEPS_PER_ACTION = 2

#: Pair lists (input rows, duplicates and NULL endpoints included) up to
#: this size are solved on the driver in one pass instead of the round
#: loop (see :func:`_components_local`). Measured on random graphs of P
#: pairs over P nodes (local[4], 4 shuffle partitions, 4 GB driver; the
#: call plus a count of its result, local vs loop, 2 reps each):
#:   P = 10^4      0.24-0.33 s vs  5.3-7.0 s  (loop 9 rounds)
#:   P = 10^5      0.57 s      vs 11.3-12.2 s (9 rounds)
#:   P = 3·10^5    1.35-1.50 s vs 52-55 s     (11 rounds)
#:   P = 10^6      5.2-5.4 s   vs 93-96 s     (11 rounds)
#: No crossover up to here; the limit is the largest size measured.
_LOCAL_MAX_EDGES = 1_000_000


def _components_local(spark, table: pa.Table, dtype) -> DataFrame:
    """The exact components of the pair rows ``table`` (u, v), solved on
    the driver. The nodes are the non-NULL endpoints — a node paired
    only with NULL stays a singleton, as in the loop — and the edges are
    the rows with both endpoints set. A vectorised hook-and-compress
    union-find (Shiloach–Vishkin style) runs over node indices in
    ascending id order: each pass hooks every root to the smallest root
    across its edges and pointer-jumps every node to its root, so a pass
    either merges roots or proves the labeling final; the root of a
    component is its minimum index, i.e. the component's minimum id.
    Self-pairs and duplicate or reversed pairs never hook. O(log n)
    passes on chains, each a few numpy sweeps over the edge arrays. The
    labels come back as one partition of driver-side local data."""
    ends = [pc.drop_null(table.column(c)).to_numpy() for c in ("u", "v")]
    nodes = np.unique(np.concatenate(ends))
    both = table.drop_null()
    a = np.searchsorted(nodes, both.column("u").to_numpy())
    b = np.searchsorted(nodes, both.column("v").to_numpy())
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        hi, lo = np.maximum(ra, rb), np.minimum(ra, rb)
        hook = hi != lo
        if not hook.any():
            break
        np.minimum.at(parent, hi[hook], lo[hook])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    schema = StructType([StructField("node", dtype), StructField("comp", dtype)])
    out = pa.table({"node": nodes, "comp": nodes[parent]})
    return spark.createDataFrame(out, schema).coalesce(1)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve an undirected edge list into ``(node, comp)`` where ``comp``
    is the minimum node id in the node's connected component.

    EAGER: the components are solved at call time (iterative convergence
    cannot be expressed as one lazy plan). A pair list of at most
    ``_LOCAL_MAX_EDGES`` rows with integral ids is collected to the
    driver and solved there in one pass; the returned frame holds the
    labels as one partition of driver-side local data. A larger one runs
    the round loop, and the returned frame reads its final checkpointed
    labels. When ``sparkContext.setCheckpointDir`` is configured the
    rounds use reliable ``checkpoint()`` — survives executor loss, the
    right mode for cluster jobs; otherwise
    ``localCheckpoint`` (block-manager, fine for local/test runs).

    Raises ``RuntimeError`` if the loop passes ``max_rounds`` without
    convergence (component diameter > max_rounds — e.g. a 50+-hop chain
    of sliding near-duplicates) instead of silently returning labels that
    would leave several survivors in one group. The local solve is exact
    at any diameter and cannot under-merge, so ``max_rounds`` never binds
    on it.

    Only nodes appearing in ``pairs`` are returned (isolated documents are
    their own component by definition — left-join the corpus afterwards
    with ``coalesce(comp, id)``). A NULL endpoint is not a node (ADVICE
    r15 #3): rows with a NULL ``src``/``dst`` never reach the edge set or
    the initial labels (NULL equality comparisons are NULL-false in both
    the edge filter and the self-loop selection), so NULL ids are silently
    absent from the output rather than returned as a (NULL, NULL) row.

    ``stats``, when a dict, receives ``{"rounds": n}`` after
    convergence — n counts the loop's ACTIONS (checkpoint rounds), each
    of which advances ``_CC_STEPS_PER_ACTION`` propagate steps, so
    ``max_rounds`` bounds actions, not wavefront hops. The local solve
    reports ``{"rounds": 0}``.
    """
    # sparkContext is classic-only; under Spark Connect there is no
    # checkpoint-dir query and no RDD bookkeeping — fall back to
    # localCheckpoint-only rounds with no eager unpersist (the GC path)
    sc = getattr(pairs.sparkSession, "sparkContext", None)
    reliable = sc is not None and sc.getCheckpointDir() is not None

    # the pair rows, at the id type both endpoints coerce to, are held:
    # their count picks the path, and the path reads them — the pair
    # source runs once either way. (A bounded ``limit(n).toArrow()``
    # would decide in one job but runs every partition of the source
    # and shuffles up to n rows of each to one reducer — the whole edge
    # list of a graph far above the limit.)
    dtype = pairs.select(F.array(src, dst)).schema[0].dataType.elementType
    raw = hold(
        pairs.select(
            F.col(src).cast(dtype).alias("u"), F.col(dst).cast(dtype).alias("v")
        )
    )
    try:
        if isinstance(dtype, IntegralType) and raw.count() <= _LOCAL_MAX_EDGES:
            if stats is not None:
                stats["rounds"] = 0
            return _components_local(pairs.sparkSession, raw.toArrow(), dtype)
        return _components_loop(raw, reliable, max_rounds, stats)
    finally:
        release(raw)


def _components_loop(
    raw: DataFrame,
    reliable: bool,
    max_rounds: int,
    stats: dict | None,
) -> DataFrame:
    """The round loop of :func:`connected_components` over the held pair
    rows ``raw`` (u, v); the caller releases ``raw``."""

    def _pin(df: DataFrame) -> DataFrame:
        # lineage truncation each round — see module docstring; without it
        # the logical plan doubles per round. LAZY: the convergence-sum
        # aggregate right after is the materializing action, so pinning
        # never costs a separate job.
        return df.checkpoint(eager=False) if reliable else df.localCheckpoint(eager=False)

    # ONE pass over the pair rows (r16, guide §2.4): the old two-branch
    # union materialized the (expensive) pair generator once per branch —
    # AQE exchange reuse only shares the deepest common exchange, so the
    # LSH band join + block join above it ran twice. Each pair row now
    # explodes into its two directed rows instead. Self-pairs stay in sym
    # (the selfloops branch below needs their endpoints); NULL endpoints
    # keep the established semantics: they never survive to the edge set
    # or the initial labels (u == v and u != v are both NULL-false), so a
    # NULL id is silently absent from the output either way.
    sym = hold(
        raw.select(
            F.explode(
                F.array(
                    F.struct("u", "v"),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("__e")
        )
        .select("__e.u", "__e.v")
        .distinct()
    )
    # Self-loops join the edge set (round-15 optimization): min over
    # N(u) ∪ {u} is then ONE hash aggregate per round, removing the
    # labels⋈nbr_min join (2 exchanges + a stage) the old propagate
    # needed to mix a node's own label back in. They derive from the
    # CACHED symmetrized frame — unioning extra branches of the raw pair
    # source instead re-scans the (expensive) pair generator (measured
    # +40% on the edge materialization at sf0.1). Input self-pairs
    # (src == dst) are dropped from the edge branch BEFORE the union —
    # the selfloops branch re-adds exactly one (u, u) per node, so such
    # input never yields duplicate edge/initial-label rows (the node set
    # still includes self-pair-only nodes: selfloops read sym's
    # unfiltered endpoints).
    selfloops = sym.select("u").distinct().select("u", F.col("u").alias("v"))
    edges = hold(sym.filter(F.col("u") != F.col("v")).unionByName(selfloops))
    # EVERYTHING after the edge persist runs under the try: a failure in
    # the sizing count, the compaction, or the initial-label checkpoint
    # must still release the edge cache
    try:
        # materializes the persisted edge list, so round 1 starts warm —
        # the count is not an extra pass. The same aggregate also reads
        # the INITIAL label sum (r16): the self-loop rows are exactly one
        # (u, u) per node, so Σ u over them IS the round-0 label sum — no
        # separate seed-collect action (one fewer driver round-trip /
        # cluster barrier per CC call).
        row0 = edges.agg(
            F.count("*").alias("__n"),
            F.sum(
                F.when(F.col("u") == F.col("v"), F.col("u")).cast("decimal(38,0)")
            ).alias("__s0"),
        ).collect()[0]
        n_edges = row0["__n"]
        # every node carries a self-loop by construction, so a NULL Σ
        # means an empty edge set (sum-of-none), never overflow of a
        # non-empty one at this width with one row per node
        prev_sum = row0["__s0"] if row0["__s0"] is not None else 0
        # sym's only consumers are the two union branches, fully served
        # now that edges is materialized, and raw's only consumer is sym —
        # release both here so the loop holds ONE cached edge list, not
        # three (at 10⁹ edges the extra footprint would evict other state
        # for the whole iteration); the finally's releases stay as the
        # failure-path cleanup
        release(sym, raw)
        # ~1M edges per partition, never above the session setting (a
        # 10⁹-edge graph is unaffected). The cached edge list keeps the
        # pair generator's partition count; every round's map stages
        # would scan all of those (mostly empty) partitions, so compact
        # it once — one tiny job reading the already-materialized cache.
        # The rounds' own reducer counts are left to AQE's partition
        # coalescing; the session setting is only read, never written
        # (a write is session-GLOBAL and would downsize every query
        # planned concurrently on the same session).
        session_parts = int(
            raw.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        p = max(1, min(session_parts, -(-n_edges // 1_000_000)))
        if p < session_parts:
            compacted = hold(edges.repartition(p, "v"))
            compacted.count()
            release(edges)
            edges = compacted
        # Initial labels: the self-loop rows ARE the node set, read off
        # the cached edges (no extra distinct). The checkpoint is LAZY:
        # its materializing action is the same aggregate that reads the
        # convergence sum, so every round costs ONE job (the old shape
        # paid an eager-checkpoint job PLUS a changed-count job).
        # Convergence via the label-sum: labels are monotone
        # non-increasing and at least one strictly decreases in every
        # non-converged round, so sum(comp) is strictly decreasing until
        # the fixed point — equality with the previous round's sum IS
        # the changed==0 signal, read from the same aggregate.
        # DECIMAL(38,0) keeps the sum exact at any scale (10⁹ nodes ×
        # 2⁶³-bounded ids overflows bigint; decimal sums never wrap).
        # ADVICE r15 #4: aggregate count(*) alongside the sum so a NULL
        # sum is only read as 0 when the frame is EMPTY — under non-ANSI
        # mode a decimal(38,0) overflow (theoretical: ~10^19 max-id
        # nodes) yields NULL, which a bare coalesce would read as
        # 0 == 0 → instant false convergence with wrong labels. Same
        # single aggregate, still one action per round.
        sum_expr = F.sum(F.col("comp").cast("decimal(38,0)")).alias("__s")
        cnt_expr = F.count("*").alias("__c")

        def _label_sum(frame: DataFrame):
            row = frame.agg(sum_expr, cnt_expr).collect()[0]
            if row[0] is None:
                if row[1]:
                    raise ArithmeticError(
                        "connected_components: label sum overflowed "
                        "decimal(38,0) — convergence cannot be detected"
                    )
                return 0
            return row[0]
        labels = _pin(
            edges.filter(F.col("u") == F.col("v"))
            .select(F.col("u").alias("node"))
            .withColumn("comp", F.col("node"))
        )
        # round 0's sum came from the sizing aggregate, so its checkpoint
        # stays LAZY — round 1's convergence aggregate materializes it
        # One PROPAGATE step: min label over N(u) ∪ {u} (self-loop
        # included in the edge set) — one equi-join + one hash aggregate.
        #
        # Label shortcuts (r16 rewrite): the step's labels ride the
        # edge set as label-derived SHORTCUT edges instead of a second
        # self-join. (u → comp(u)) delivers label(comp(u)) to u — the
        # old pointer jump comp ← comp[comp], now INSIDE the same
        # join/aggregate (one fewer join per step). Every shortcut label
        # is a member id of the node's own component, so propagated
        # labels remain member ids, stay monotone non-increasing (the
        # edge self-loop keeps each node's own label in its min set),
        # and any stable labeling is still constant-per-component at the
        # minimum — the invariants the convergence sum relies on are
        # untouched.
        #
        # The GATHER direction (comp(u) → u) that rode along until r16
        # is PROVABLY a no-op and is dropped (one |V|-row union branch
        # less in every step's join input): its contribution to target
        # t = comp(x) is label(x) = t — the target's own id — and t's
        # current label is always ≤ t (labels start at comp(t) = t and
        # are monotone non-increasing), so the branch can never lower
        # any min; the target node t is already in the aggregate's key
        # set through its own self-loop edge. Verified: identical label
        # checksums and round count with/without the branch
        # (scripts/probe.py cc).
        def _step(lab_df: DataFrame) -> DataFrame:
            shortcuts = lab_df.select(
                F.col("node").alias("u"), F.col("comp").alias("v")
            )
            return (
                edges.unionByName(shortcuts)
                .alias("E")
                .join(lab_df.alias("L"), F.col("E.v") == F.col("L.node"))
                .groupBy(F.col("E.u").alias("node"))
                .agg(F.min(F.col("L.comp")).alias("comp"))
            )

        # Two steps per ACTION (r16, guide §1.2 step 1): each round's
        # checkpoint + convergence collect is a full driver round-trip
        # locally and a full cluster barrier at scale, and it is the
        # ROUND count, not the per-step work, that floors this loop
        # (measured ~0.5 s/round at sf0.1 regardless of data size).
        # Batching two propagate steps into one lazy plan
        # halves the action count; the intermediate step is referenced
        # twice by the second (the shortcut branch + the join), but
        # those references canonicalize to ONE exchange at runtime
        # (verified: rounds-wall fell ~35% at sf0.1 with identical
        # labels). Convergence still reads one sum per action: labels
        # are monotone per step, so block-sum equality ⇔ no step in the
        # block changed anything ⇔ converged; a converged labeling is a
        # fixed point of _step, so the extra step past convergence is
        # the identity.
        for rounds in range(1, max_rounds + 1):
            propagated = _step(labels)
            scratch = []
            for _ in range(_CC_STEPS_PER_ACTION - 1):
                # the batched step's downstream references share one
                # materialization inside the round's single job; it is
                # round scratch, freed right after the action, so it is
                # always a LOCAL checkpoint — a reliable one would grow
                # the checkpoint dir by one RDD per round
                propagated = propagated.localCheckpoint(eager=False)
                scratch.append(propagated)
                propagated = _step(propagated)
            new_labels = _pin(propagated)
            # ONE action per round: materializes the lazy checkpoint(s)
            # AND returns the convergence sum
            cur_sum = _label_sum(new_labels)
            # the superseded round (its sum-check is done) and the batched
            # step's scratch, each freed by its own checkpoint's RDD id —
            # never a diff of the session-global persistent-RDD set, which
            # would free a concurrent thread's lazy checkpoint
            release(labels, *scratch)
            labels = new_labels
            if cur_sum == prev_sum:
                if stats is not None:
                    stats["rounds"] = rounds
                return labels
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} actions "
            f"({max_rounds * _CC_STEPS_PER_ACTION} propagate steps, "
            f"{_CC_STEPS_PER_ACTION} per action); the component diameter exceeds "
            "that — raise max_rounds"
        )
    finally:
        release(edges, sym)


def dedup_groups(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Attach ``group_id`` (component minimum — the canonical survivor's
    id) and ``is_canonical`` to every document. Documents in no pair are
    their own singleton group. The exact-resolution alternative to
    ``pipeline.near_dedup_lsh``'s greedy rule: a doc bridging two clusters
    merges them instead of deleting both tails."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        docs.join(comp, docs[id_col] == comp["node"], "left")
        .select(
            docs["*"],
            F.coalesce(F.col("comp"), docs[id_col]).alias("group_id"),
        )
        .withColumn("is_canonical", F.col("group_id") == F.col(id_col))
    )


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration, exact scaled-integer arithmetic)
# ---------------------------------------------------------------------------

#: rank fixed-point scale: ranks are bigints r9 = rank × 10^9
PAGERANK_SCALE = 1_000_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-iteration PageRank (Page, Brin, Motwani, Winograd, "The
    PageRank Citation Ranking", Stanford 1999) in EXACT scaled-integer
    arithmetic: ranks are bigints ``r9 = rank × 10^9`` and every step is
    integer multiply + floor division (``DIV``), so the whole chain
    replays bit-identically on any engine — the kmeans_fixed /
    connected_components discipline applied to the third classic
    iterative graph algorithm. Centrality over the near-dup pair graph
    ranks canonical candidates by how *connected* they are (a
    frequently-duplicated page is usually the original); over an
    entity-interaction graph it is the standard authority score.

    Per round, with damping ``d = damping_num/damping_den`` (default
    17/20 = 0.85) and ``d9 = (10^9·17) DIV 20``:

        r9'(v) = (10^9 − d9) DIV N  +  Σ_{u→v} (d9·r9(u) DIV 10^9) DIV deg(u)

    Divergences from the textbook real-valued formulation, both
    deterministic and documented: (a) floor division loses < 1 ulp of
    the 10⁻⁹ scale per term (ranks are lower bounds; ordering of
    well-separated ranks is unaffected); (b) dangling nodes' mass is
    NOT redistributed — it leaks, as in the common sparse formulation,
    so ranks sum to < 10^9. ``iters`` is FIXED (no convergence test):
    the caller picks the horizon, the oracle unrolls the same count.
    With ``weight_col``, a node's damped mass splits pro rata by edge
    weight (``…·w DIV Σw`` in DECIMAL(38,0) — weight products pass
    int64); duplicate edges sum their weights, non-positive weights
    raise in-plan, and ``weight_col=None`` keeps the bit-exact
    unweighted arithmetic the oracle replays.

    With ``seeds``, the teleport term restricts to the seed set —
    PERSONALIZED PageRank (Haveliwala, "Topic-Sensitive PageRank",
    WWW 2002): ``r0`` and the per-round base are ``10^9 DIV |S|`` /
    ``(10^9 − d9) DIV |S|`` on seed nodes and ZERO elsewhere, so ranks
    measure proximity to the seed set under random walks with restart
    (the recommendation / entity-neighborhood primitive). ``|S|`` is
    the distinct seed count AS GIVEN; a seed absent from the graph's
    node set simply never materializes, so its teleport share leaks —
    the dangling-mass convention applied to restart mass. Broadcast
    membership join; same integer arithmetic, same overflow bound.

    Overflow: ``d9·r9 ≤ 0.85·10^9 · 10^9 < 2^63`` — total rank mass is
    ≤ 10^9 by induction (base sums to ≤ 10^9−d9, damped contributions
    to ≤ d9·(mass DIV 10^9-ish)), so per-node r9 never exceeds 10^9.

    Scale shape (10^9 edges): ``edges`` + out-degrees compute ONCE and
    persist; each round shuffles only (node, r9) longs — contribution is
    one equi-join ranks⋈edges + one hash aggregate keyed by dst, the
    Pregel-on-SQL shape. The rank frame is referenced once per round so
    the lazy plan grows linearly in ``iters``; for iters ≳ 15 swap in
    the localCheckpoint-per-round pattern of :func:`connected_components`
    (mandatory there because its plan doubles per round — here it is
    only driver-side analysis cost).
    """
    if iters < 1:
        raise ValueError(f"iters ({iters}) must be >= 1")
    if not 0 < damping_num < damping_den:
        raise ValueError(f"damping {damping_num}/{damping_den} must be in (0, 1)")
    s = PAGERANK_SCALE
    d9 = (s * damping_num) // damping_den
    if weight_col is None:
        e = edges.select(
            F.col(src).alias("__src"), F.col(dst).alias("__dst")
        ).distinct()
    else:
        # weighted variant: duplicate edges SUM their weights; a node's
        # contribution splits pro rata by weight share instead of 1/deg.
        # Non-positive weights raise in the projection (a zero/negative
        # share has no sound semantics and would floor-corrupt silently).
        w = (
            edges.select(
                F.col(src).alias("__src"),
                F.col(dst).alias("__dst"),
                F.col(weight_col).cast("bigint").alias("__w"),
            )
            .groupBy("__src", "__dst")
            .agg(F.sum("__w").alias("__w"))
        )
        e = w.select(
            "__src",
            "__dst",
            F.when(F.col("__w") > 0, F.col("__w"))
            .otherwise(
                F.raise_error(
                    F.lit("pagerank: edge weights must be positive")
                ).cast("bigint")
            )
            .alias("__w"),
        )
    e = pin(e, "components.pagerank.edges")
    # node set in ONE pass over the cached edges (explode both endpoints
    # instead of a two-branch union — one cache scan, one stage)
    nodes = e.select(
        F.explode(F.array("__src", "__dst")).alias("node")
    ).distinct()
    # N and the per-node base term derive IN-PLAN (job-free build, the
    # package-wide discipline): one-row aggregate broadcast back
    if seeds is None:
        n_row = nodes.groupBy().agg(F.count("*").alias("__n"))
        nodes = nodes.crossJoin(F.broadcast(n_row)).select(
            "node",
            F.expr(f"CAST({s} AS BIGINT) DIV __n").alias("__r0"),
            F.expr(f"CAST({s} - {d9} AS BIGINT) DIV __n").alias("__base9"),
        )
    else:
        sd = seeds.select(F.col(seed_col).alias("node")).distinct()
        ns_row = sd.groupBy().agg(F.count("*").alias("__n"))
        is_seed = F.col("__is_seed").isNotNull()
        nodes = (
            nodes.join(F.broadcast(sd.withColumn("__is_seed", F.lit(1))), "node", "left")
            .crossJoin(F.broadcast(ns_row))
            .select(
                "node",
                F.when(is_seed, F.expr(f"CAST({s} AS BIGINT) DIV __n"))
                .otherwise(F.lit(0).cast("bigint"))
                .alias("__r0"),
                F.when(is_seed, F.expr(f"CAST({s} - {d9} AS BIGINT) DIV __n"))
                .otherwise(F.lit(0).cast("bigint"))
                .alias("__base9"),
            )
        )
    nodes = pin(barrier(nodes, "node"), "components.pagerank.nodes")
    if weight_col is None:
        deg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
        contrib_expr = f"(CAST({d9} AS BIGINT) * r9 DIV {s}) DIV __deg"
    else:
        deg = e.groupBy("__src").agg(F.sum("__w").alias("__wsum"))
        # per-edge share of the damped mass, pro rata by weight — the
        # weight product can exceed int64, so it runs in DECIMAL(38,0);
        # the quotient is <= 10^9 and lands back in a bigint
        contrib_expr = (
            f"CAST(CAST((CAST({d9} AS BIGINT) * r9 DIV {s}) AS DECIMAL(38,0))"
            f" * CAST(__w AS DECIMAL(38,0))"
            f" DIV CAST(__wsum AS DECIMAL(38,0)) AS BIGINT)"
        )
    # partition-align both per-round join inputs (the bfs_hops adj
    # rationale): a cached AQE plan reports its partitioning only when
    # the cached plan ends in an explicit repartition, so without the
    # pins the |E|-sized edged frame and the |V|-sized nodes frame each
    # re-shuffled EVERY round (r16 before-plan: an Exchange over both
    # InMemoryTableScans per round). edged clusters by __src (the
    # contribution join key), nodes by node (the rank re-attach key).
    edged = pin(barrier(e.join(deg, "__src"), "__src"), "components.pagerank.edged")
    ranks = nodes.select("node", F.col("__r0").alias("r9"))
    for _ in range(iters):
        contribs = (
            edged.join(ranks, edged["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                F.expr(contrib_expr).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.col("__base9") + F.coalesce(F.col("__sum"), F.lit(0))).alias("r9"),
            )
        )
    return ranks.select(
        "node", "r9", (F.col("r9").cast("double") / float(s)).alias("rank")
    )


def hits(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round HITS hubs & authorities (Kleinberg, "Authoritative
    sources in a hyperlinked environment", JACM 1999) in exact
    scaled-integer arithmetic — the pagerank discipline applied to the
    mutually-recursive pair: per round, authority is the sum of
    in-neighbor hub scores and hub the sum of out-neighbor authority
    scores. The textbook L2 normalization is replaced by MAX
    normalization (``x9' = x_raw·10^9 DIV max(x_raw)``, one-row
    broadcast) — same fixed point direction, deterministic, and
    integer-exact where an L2 norm would drag the whole chain through
    floats; the top score each half-step is exactly ``10^9``. The
    normalization PRODUCT can exceed int64 (raw ≤ 10^9·max-degree), so
    it runs in DECIMAL(38,0) and lands back in a bigint, the weighted-
    pagerank overflow pattern.

    Returns ``(node, hub9, auth9)`` over every node of the graph; on a
    bipartite src→dst graph (e.g. customer→supplier purchases) hubs
    live on the src side and authorities on the dst side, which is the
    shape that separates "broad buyers" from "widely-bought" — the
    canonical-candidate ranking complement to pagerank on the near-dup
    pair graph. ``rounds`` is FIXED (no convergence test): the caller
    picks the horizon, the oracle unrolls the same count. Scale shape:
    edges dedup + persist once; each half-round is one equi-join over
    slim (node, score) longs + a hash aggregate + a one-row max
    broadcast — no windows, no driver collects."""
    if rounds < 1:
        raise ValueError(f"rounds ({rounds}) must be >= 1")
    s = PAGERANK_SCALE
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")).distinct()
    e = pin(e, "components.hits.edges")
    # one cache pass for the node set (the pagerank explode shape)
    nodes = pin(
        e.select(F.explode(F.array("__src", "__dst")).alias("node")).distinct(),
        "components.hits.nodes",
    )

    def _normalize(frame: DataFrame, col: str, r: int) -> DataFrame:
        # the zero-filled frame feeds BOTH the max and the rescale —
        # persist it so the two consumers share one materialization;
        # without the pin each half-step doubles the recompute tree
        # (2^4 copies of the edge joins at 2 rounds — measured ~22 s
        # at sf0.1 vs ~3 s pinned)
        frame = pin(frame, f"components.hits.{col}.{r}")
        m = frame.groupBy().agg(F.max(col).alias("__m"))
        return frame.crossJoin(F.broadcast(m)).select(
            "node",
            F.expr(
                f"CAST(CAST({col} AS DECIMAL(38,0)) * {s}"
                f" DIV CAST(GREATEST(__m, 1) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias(col),
        )

    hub = nodes.select("node", F.lit(s).cast("bigint").alias("h9"))
    auth = None
    for r in range(rounds):
        a_raw = (
            e.join(hub, e["__src"] == hub["node"])
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum("h9").alias("a9"))
        )
        auth = _normalize(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("a9", F.lit(0)).alias("a9")
            ),
            "a9",
            r,
        )
        h_raw = (
            e.join(auth, e["__dst"] == auth["node"])
            .groupBy(F.col("__src").alias("node"))
            .agg(F.sum("a9").alias("h9"))
        )
        hub = _normalize(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("h9", F.lit(0)).alias("h9")
            ),
            "h9",
            r,
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("h9", F.lit(0)).alias("hub9"),
            F.coalesce("a9", F.lit(0)).alias("auth9"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts by ordered edge orientation
    (Schank & Wagner SEA 2005): normalize to undirected distinct edges,
    orient every edge from the lower node id to the higher, build wedges
    as the self-join ``out(a→b) ⋈ out(b→c)`` and close them against
    ``out(a→c)`` — each triangle materializes EXACTLY once, at its
    lowest-id vertex. Returns ``(node, n_triangles)`` for every node in
    at least one triangle (the local clustering numerator; near-dup use:
    triangles separate tight duplicate cliques from chance pair
    collisions).

    Limitation (Suri & Vassilvitskii, "Counting triangles and the curse
    of the last reducer", WWW 2011): id order bounds no pivot's
    out-degree, so a hot vertex with a low id pivots deg² wedges, all
    keyed to one join task — the last reducer. Ordering by (degree, id)
    would bound every pivot at O(sqrt(m)) out-edges.

    Shape: two equi-joins over slim oriented-edge rows + one explode of
    the 3-node triangle rows into a count aggregate; never an
    all-pairs, no windows."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    oriented = pin(
        und.select(F.col("u").alias("lo"), F.col("v").alias("hi")),
        "components.triangle_counts.oriented",
    )
    wedges = (
        oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .join(
            oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c")), "b"
        )
    )
    tris = wedges.join(
        oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c")), ["a", "c"]
    )
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan, Albert &
    Kumara 2007, "Near linear time algorithm to detect community
    structures in large-scale networks", Phys. Rev. E 76) with the
    determinism the oracle discipline requires: every node starts as its
    own label; each round a node adopts the label with the MOST votes
    among its neighbors' previous labels PLUS its own previous label
    (the self-vote damps the bipartite oscillation the synchronous
    variant is known for), ties broken by the SMALLEST label. All
    arithmetic is long counts + a deterministic argmax, so the chain
    replays bit-identically as unrolled SQL rounds — the
    pagerank/kmeans_fixed discipline applied to community detection.
    Communities complement :func:`connected_components`: components give
    reachability, LPA splits dense sub-communities inside one component.

    Edges are treated as UNDIRECTED (symmetrized, self-loops dropped);
    ``iters`` is FIXED — the caller picks the horizon and the oracle
    unrolls the same count. Returns ``(node, label)``.

    Scale shape (10^9 edges): the symmetrized adjacency computes once
    and persists; each round is one labels⋈adjacency equi-join + two
    hash aggregates, shuffling only (node, label, count) longs — the
    Pregel-on-SQL shape again; the plan grows linearly in ``iters``
    (switch to the per-round localCheckpoint of
    :func:`connected_components` past ~15 rounds)."""
    if iters < 1:
        raise ValueError(f"iters ({iters}) must be >= 1")
    # the min-label tiebreak rides a max(struct(count, -label)) aggregate,
    # which needs NUMERIC node ids (unary negation); string-keyed graphs
    # must map ids to longs first (xxhash64/zipWithIndex) — validate up
    # front instead of failing analysis mid-round (review r12)
    from pyspark.sql.types import NumericType

    for c in (src, dst):
        if not isinstance(edges.schema[c].dataType, NumericType):
            raise ValueError(
                f"label_propagation requires numeric node ids; column {c!r} "
                f"is {edges.schema[c].dataType.simpleString()} — map ids to "
                "longs (e.g. xxhash64) before calling"
            )
    # one-pass symmetrize, partition-aligned with the rounds' join key
    # (each round joins labels on __s)
    adj = pin(
        barrier(_symmetrize(edges, src, dst), "__s"), "components.label_propagation.adj"
    )
    labels = adj.select(F.col("__s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        nbr_votes = labels.join(adj, F.col("node") == F.col("__s")).select(
            F.col("__d").alias("node"), "label"
        )
        votes = nbr_votes.unionAll(labels)  # self-vote
        counts = votes.groupBy("node", "label").agg(F.count("*").alias("__c"))
        # argmax(count) with min-label tiebreak as ONE partial-aggregatable
        # max(struct): negate the label so struct-max prefers the smaller
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("__c"), (-F.col("label")).alias("__nl"))
                ).alias("__m")
            )
            .select("node", (-F.col("__m.__nl")).alias("label"))
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration k-core peeling (Seidman 1983, "Network structure
    and minimum degree", Social Networks 5; the Batagelj-Zaveršnik
    sequential algorithm's synchronous distributed form): each round
    drops every node whose degree in the SURVIVING subgraph is below
    ``k``, then restricts the edge set to surviving endpoints. After
    enough rounds the fixed point is exactly the k-core — the maximal
    subgraph where every node keeps degree ≥ k; earlier rounds are the
    standard synchronous approximation from above.

    ``iters`` is FIXED — the caller picks the horizon and the oracle
    unrolls the same count (the pagerank/label_propagation discipline;
    peeling removes at least one node per non-converged round, so
    ``iters`` ≥ the longest peel chain guarantees the fixed point —
    dense cores converge in 2-3 rounds, pathological paths need O(n)
    and want the real iterate-to-convergence loop of
    :func:`connected_components` instead). Returns ``(node, degree)``
    over the surviving subgraph — degree counts distinct neighbors
    (edges symmetrize and self-loops drop, as in
    :func:`label_propagation`).

    Scale shape (10^9 edges): the symmetrized adjacency persists once;
    each round is exactly TWO exchanges — a count window partitioned by
    each endpoint, then a map-side filter — with NO joins (the
    degree-aggregate + two-semi-joins formulation costs three exchanges
    plus two join builds per round; the window form is the same shape
    the SQL oracle unrolls, so the plans mirror structurally). Frames
    carry (long, long) tuples only, no payloads; the plan grows linearly
    in ``iters`` (localCheckpoint per round past ~15, the
    connected_components rule).
    """
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    if iters < 1:
        raise ValueError(f"iters ({iters}) must be >= 1")
    from pyspark.sql import Window as W

    adj = pin(_symmetrize(edges, src, dst), "components.kcore.adj")
    for _ in range(iters):
        adj = (
            adj.withColumn("__ds", F.count("*").over(W.partitionBy("__s")))
            .withColumn("__dd", F.count("*").over(W.partitionBy("__d")))
            .filter((F.col("__ds") >= k) & (F.col("__dd") >= k))
            .drop("__ds", "__dd")
        )
    return adj.groupBy(F.col("__s").alias("node")).agg(
        F.count("*").cast("bigint").alias("degree")
    )


def select_survivors(
    groups: DataFrame,
    stats: DataFrame,
    score_col: str,
    group_col: str = "group_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-based survivor selection over dedup groups: per group keep
    the member with the HIGHEST ``score_col`` (ties: smallest id) — the
    production dedup rule. Min-id canonicalization
    (:func:`connected_components`' ``comp``) picks an arbitrary member;
    a curated corpus keeps the longest / highest-quality duplicate and
    drops the rest, so the survivor must be score-ranked, not id-ranked.

    ``groups`` is ``(id_col, group_col)`` (the components output);
    ``stats`` is ``(id_col, score_col)`` — joined 1:1 on ``id_col``.
    Ids must be numeric (the argmax rides ``max(struct(score, -id))``,
    one partially-aggregatable max — the label_propagation tiebreak).
    Returns ``(id_col, group_col, score_col, survivor_id, is_survivor)``.

    Shape at scale: one equi-join groups⋈stats on the id (both sides
    pre-hashed by upstream shuffles), one group-keyed max aggregate over
    (group, score, id) longs, one broadcast-size join back when groups
    are many-per — Spark plans it as a shuffled hash join on group_col;
    payloads never enter."""
    from pyspark.sql.types import NumericType

    if not isinstance(groups.schema[id_col].dataType, NumericType):
        raise ValueError(
            f"select_survivors requires numeric ids; {id_col!r} is "
            f"{groups.schema[id_col].dataType.simpleString()}"
        )
    scored = groups.join(stats.select(id_col, score_col), id_col)
    best = scored.groupBy(group_col).agg(
        F.max(
            F.struct(F.col(score_col).alias("__s"), (-F.col(id_col)).alias("__ni"))
        ).alias("__m")
    ).select(group_col, (-F.col("__m.__ni")).alias("survivor_id"))
    return scored.join(best, group_col).select(
        id_col,
        group_col,
        score_col,
        "survivor_id",
        (F.col(id_col) == F.col("survivor_id")).alias("is_survivor"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Neighbor-overlap similarity between ``dst`` nodes of a bipartite
    edge list: Jaccard over their ``src`` neighbor sets — the
    collaborative-filtering / co-occurrence similarity (suppliers who
    share customers, documents that share near-dup partners, tokens that
    share contexts). Pairs generate by the WEDGE join (two edges meeting
    at one src — the triangle_counts shape): cost Σ_src deg(src)², never
    |dst|², and ``min_common`` prunes AFTER one aggregate over (long,
    long) pairs. Returns ``(node_a, node_b, n_common, deg_a, deg_b,
    jaccard)`` with node_a < node_b; jaccard = common/(da+db−common) is
    ONE IEEE division of exact long counts (the transition_matrix float
    rule), so the whole row rides the value hash.

    A hub src with degree d contributes d² wedges — cap or drop
    pathological hubs upstream (the stopword rule) before calling at
    10⁹-edge scale."""
    if min_common < 1:
        raise ValueError(f"min_common ({min_common}) must be >= 1")
    e = edges.select(F.col(src).alias("__c"), F.col(dst).alias("__s")).distinct()
    deg = e.groupBy("__s").agg(F.count("*").cast("long").alias("__d"))
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(b, (F.col("a.__c") == F.col("b.__c")) & (F.col("a.__s") < F.col("b.__s")))
        .groupBy(
            F.col("a.__s").alias("node_a"), F.col("b.__s").alias("node_b")
        )
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("__s").alias("node_a"), F.col("__d").alias("deg_a"))
    db = deg.select(F.col("__s").alias("node_b"), F.col("__d").alias("deg_b"))
    out = common.join(da, "node_a").join(db, "node_b")
    denom = (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast("double")
    return out.select(
        "node_a",
        "node_b",
        "n_common",
        "deg_a",
        "deg_b",
        (F.col("n_common").cast("double") / denom).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Stored components artifact (compute once, consume many — VERDICT r12 #4)
# ---------------------------------------------------------------------------

def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance, bounded horizon: ``(node, hops)``
    for every node within ``max_hops`` undirected hops of ANY seed,
    ``hops`` = the MINIMUM hop count (the BFS layer the node is first
    reached in). The graph family's distance primitive — connected
    components answers "same group?", this answers "how close?": the
    blast radius of a flagged entity (a contaminated document through
    near-dup links, a sanctioned supplier through order relationships)
    is a distance query, not a membership one.

    Semantics: edges symmetrize and self-loops drop (the kcore rule);
    seeds appear in the output at hops 0 whether or not they touch any
    edge; ``max_hops`` is a FIXED horizon, no convergence test — the
    caller picks it and the oracle unrolls the same bound (the pagerank
    fixed-iteration discipline). Exactness is structural: layer h is
    the frontier's neighbors anti-joined against every node already
    labeled, so a node's first appearance IS its minimum distance —
    integers end to end, engine-replayable (the DuckDB oracle is a
    recursive CTE over the same symmetrized edges with ``MIN(hops)``).

    Scale shape (10^9 edges): the symmetrized adjacency computes once
    and persists; each round is ONE equi-join of the current frontier
    (only the newly-labeled nodes, never the accumulated set) against
    the adjacency plus one anti-join — frontier-sized shuffles, the
    semi-naive Datalog evaluation. Each frontier persists because round
    h+1 and the final union both reference it. The accumulated label
    frame is a lazy union tree, linear in ``max_hops``; for horizons
    ≳ 15 swap in the localCheckpoint-per-round pattern of
    :func:`connected_components` (driver-side analysis cost only).
    Reference analog: the rebalance cascade walking partition
    assignments outward one neighbor set at a time
    (impl/partitioner/SubpartitionSupplier.java — set expansion to a
    fixed frontier, not a closure).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops ({max_hops}) must be >= 1")
    # one-pass symmetrize (guide §2.4: the union shape ran the edge
    # producer — here an orders⋈lineitem join — once per branch), then
    # partition-align the cache with the per-round join key: every
    # round's frontier join clusters the adjacency by __s, and a cached
    # AQE plan reports its final partitioning only when it is an
    # explicit repartition, so without the pin the FULL adjacency
    # re-shuffled in every sort-merge round (r16 before-plan: one
    # Exchange over the InMemoryTableScan per round).
    adj = pin(barrier(_symmetrize(edges, src, dst), "__s"), "components.bfs_hops.adj")
    dist = pin(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("hops")),
        "components.bfs_hops.dist.0",
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        new = pin(
            adj.join(frontier, adj["__s"] == frontier["node"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("bigint").alias("hops")),
            f"components.bfs_hops.frontier.{h}",
        )
        dist = pin(dist.unionByName(new), f"components.bfs_hops.dist.{h}")
        frontier = new
    return dist


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Bounded Bellman-Ford: minimum path COST from any seed using at
    most ``rounds`` undirected edges — the weighted companion to
    :func:`bfs_hops` (hop distance answers "how many relationships
    away"; this answers "how cheap is the cheapest route": supply-chain
    latency, trust decay, similarity-weighted contamination). Returns
    ``(node, cost)`` for every node reachable within the horizon;
    ``weight_col=None`` degenerates to unit weights (cost == hops).

    Exact BIGINT end to end: per round every labeled node relaxes its
    neighbors (``cost + w``) and each node keeps the MIN of its old
    label and the round's offers — textbook Bellman-Ford with a fixed
    horizon instead of a convergence test (the pagerank discipline; the
    oracle unrolls the identical rounds as CTEs, one MIN-aggregate per
    round, so costs replay bit-for-bit). Parallel edges collapse to
    their MIN weight first (the only weight a shortest path can use);
    non-positive weights raise in-plan (zero/negative edges break the
    bounded-horizon optimality argument — with them a longer path can
    be cheaper than any bounded relaxation sees). Self-loops drop.

    Scale shape (10^9 edges): symmetrized min-weight adjacency computes
    once and persists; each round is ONE equi-join of the CURRENT label
    frame against the adjacency plus one MIN hash-aggregate — label-
    frame-sized shuffles of (node, cost) longs. Unlike BFS the whole
    label frame relaxes every round (an improved cost must re-offer),
    so each label frame persists; horizons ≳ 15 swap in the
    localCheckpoint-per-round pattern of :func:`connected_components`.
    """
    if rounds < 1:
        raise ValueError(f"rounds ({rounds}) must be >= 1")
    w_expr = (
        F.lit(1).cast("bigint")
        if weight_col is None
        else F.col(weight_col).cast("bigint")
    )
    # one-pass symmetrize (the _symmetrize rationale applied to the
    # weighted triple — the union shape ran the edge producer twice)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("__s"),
                        F.col(dst).alias("__d"),
                        w_expr.alias("__w"),
                    ),
                    F.struct(
                        F.col(dst).alias("__s"),
                        F.col(src).alias("__d"),
                        w_expr.alias("__w"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.__s", "__e.__d", "__e.__w")
        .filter(F.col("__s") != F.col("__d"))
    )
    # partition-align the per-round joins on __s
    adj = pin(
        barrier(und.groupBy("__s", "__d").agg(F.min("__w").alias("__w")), "__s")
        .select(
            "__s",
            "__d",
            F.when(F.col("__w") > 0, F.col("__w"))
            .otherwise(
                F.raise_error(
                    F.lit("shortest_paths: edge weights must be positive")
                ).cast("bigint")
            )
            .alias("__w"),
        ),
        "components.shortest_paths.adj",
    )
    dist = pin(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("cost")),
        "components.shortest_paths.dist.0",
    )
    for r in range(1, rounds + 1):
        offers = (
            adj.join(dist, adj["__s"] == dist["node"])
            .select(
                F.col("__d").alias("node"),
                (F.col("cost") + F.col("__w")).alias("cost"),
            )
        )
        dist = pin(
            dist.unionByName(offers).groupBy("node").agg(F.min("cost").alias("cost")),
            f"components.shortest_paths.dist.{r}",
        )
    return dist


#: layout version stamped into the meta table; bumped on any schema change
_COMPONENTS_STORE_VERSION = 1


def components_write(
    comp: DataFrame,
    path: str,
    mode: str = "error",
    node_col: str = "node",
    comp_col: str = "comp",
    fingerprint: str = "",
) -> None:
    """Persist a components labeling as two parquet tables under ``path``
    — the ``mapping`` (node → component id) plus a one-row ``meta`` table
    carrying the column names, an input ``fingerprint``, and a layout
    version. The compute-once / consume-many shape of the index family
    (operators/text.py bm25_write_index, operators/similarity.py
    ann_write_index): dedup groups are resolved once per corpus snapshot
    and then read by every downstream pass (survivor selection, split
    leakage guards, group-capped sampling) instead of re-running the
    pair-generation + closure chain each time. The reference's analog is
    its stored offsets contract (impl/offsets/DefaultOffsetsState.java —
    state that survives process restart).

    ``fingerprint`` is an opaque caller-chosen identity of the INPUT the
    labeling was computed from (a snapshot id, content checksum, …);
    :func:`components_read` refuses a store whose fingerprint differs
    from the one the reader expects, so a stale artifact fails loudly
    instead of silently serving old groups. ``mode`` passes through to
    the parquet writer (``overwrite`` for re-ingest)."""
    comp.select(node_col, comp_col).write.mode(mode).parquet(f"{path}/mapping")
    store.write_meta(
        comp.sparkSession,
        path,
        "node_col string, comp_col string, fingerprint string",
        (node_col, comp_col, fingerprint),
        _COMPONENTS_STORE_VERSION,
        mode,
    )


def components_read(
    spark, path: str, expect_fingerprint: str | None = None
) -> DataFrame:
    """Load a stored labeling written by :func:`components_write`. The
    only driver-side read is the one-row meta table (the bm25_read_index
    pattern); the mapping stays a lazy parquet scan, so a consumer that
    filters on the node id still pushes its predicate into the scan.
    With ``expect_fingerprint``, a store built from a different input
    snapshot raises instead of serving stale groups."""
    meta = store.read_meta(spark, path, _COMPONENTS_STORE_VERSION, "components_read")
    if expect_fingerprint is not None and meta.fingerprint != expect_fingerprint:
        raise ValueError(
            f"components_read: store fingerprint {meta.fingerprint!r} != "
            f"expected {expect_fingerprint!r} — the store is stale for this "
            "input; rebuild it"
        )
    return spark.read.parquet(f"{path}/mapping")


def components_merge(
    stored: DataFrame,
    new_pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    node_col: str = "node",
    comp_col: str = "comp",
) -> DataFrame:
    """Incremental closure on append (the ann_append_index analog for
    components): fold a batch of NEW candidate pairs into a stored
    labeling without re-deriving the original pair set. Each stored
    (node, comp) row IS an edge — node and its component minimum are
    members of the same group — so the stored labeling is the STAR
    CONTRACTION of the original graph: every old component collapses to
    diameter ≤ 2. The union of those star edges with the new pairs has
    the same components as (old pairs ∪ new pairs) — labels only ever
    link members of one true component, and every old component stays
    connected through its minimum — so one :func:`connected_components`
    run over |nodes| + |new pairs| edges (converging in ~2-3 rounds on
    the contracted topology) replaces the full pair regeneration.
    ``src``/``dst`` pass through to
    :func:`connected_components`. Returns the same (node, comp) shape,
    ready for :func:`components_write` with the new snapshot's
    fingerprint."""
    star = stored.select(F.col(node_col).alias(src), F.col(comp_col).alias(dst))
    edges = star.unionByName(new_pairs.select(src, dst))
    return connected_components(edges, src=src, dst=dst)
