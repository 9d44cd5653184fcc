"""End-to-end corpus curation: the composition a training-data pipeline
actually runs, built from this engine's operators.

quality-filter → exact dedup → near-dup (MinHash-LSH) removal → chunking.
Every stage is a DataFrame→DataFrame transform (no collect, no driver
loops), so the whole pipeline is one lazy plan the optimizer sees
end-to-end; at 100 TB each stage's shape is the one audited in
tests/test_plans.py (blocking-key equi-joins, codegen'd signature
aggregates, single-scan profiling). One documented exception:
``near_dedup_lsh(exact_groups=True)`` executes its component rounds
eagerly (iterative convergence has no lazy form — see its docstring).

The reference has no content operators (payloads are opaque bytes —
api/task/WorkerTask.java:50 leaves all of this to user code); this module
is the engine's answer to what that user code would need at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_workers_spark.functions.determinism import sample_coin
from kafka_workers_spark.operators.dedup import (
    exact_dedup,
    lsh_bands,
    minhash_agg,
    minhash_agreement,
)
from kafka_workers_spark.operators.text import (
    STOPWORDS,
    chunk_documents,
    normalized,
    shingle_stage,
    stopword_hits,
    tokenize_stage,
    tokens,
)
from kafka_workers_spark.store import swap_output  # noqa: F401 — re-exported


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    min_stop_ratio: float = 0.0,
    max_stop_ratio: float = 1.0,
) -> DataFrame:
    """Cheap heuristic pre-filter (length + stopword density) — the first
    pass of every corpus pipeline; pure column expressions, single scan."""
    toks = tokens(F.col(text_col))
    n = F.size(toks).cast("bigint")
    stop_ratio = stopword_hits(toks, STOPWORDS["en"]).cast("double") / n
    return docs.filter(
        (n >= min_tokens) & (stop_ratio >= min_stop_ratio) & (stop_ratio <= max_stop_ratio)
    )


def near_dedup_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    exact_groups: bool = False,
    min_agreement: float | None = None,
    corpus_size: int | None = None,
    target_jaccard: float = 0.5,
) -> DataFrame:
    """Drop near-duplicates: MinHash signatures → LSH banding → keep one
    survivor per collision group.

    Pass ``corpus_size`` (approximate document count) to SIZE the scheme
    instead of using the explicit ``k``/``n_bands``/``rows_per_band``:
    ``operators.dedup.lsh_plan(corpus_size, target_jaccard)`` picks the
    cheapest (k, bands, rows) whose S-curve threshold sits at the target
    AND whose expected false-positive candidates stay ≤ 1 per document —
    the literal defaults (8, 4×2) are ``lsh_plan(100, 0.5)``, right for
    test corpora and undersized beyond ~10⁴ docs (see lsh_plan's
    docstring for the math and the 10⁹-doc behavior).

    Default survivor rule is the standard greedy one (any doc colliding
    with a lower id is dropped) — one left-anti join against the
    candidate-pair set, no iteration; a doc bridging two clusters removes
    both tails, which over-deletes slightly and never under-deletes.
    ``exact_groups=True`` resolves the transitive closure instead
    (operators/components.py min-label propagation, O(diameter) rounds)
    and keeps exactly one canonical doc — the component minimum — per
    group. NOTE: this path is EAGER (the component rounds execute inside
    this call — iterative convergence is not expressible as one lazy
    plan), the one exception to this module's lazy-plan rule; it raises
    rather than return unconverged groups, and uses reliable checkpoints
    when ``sparkContext.setCheckpointDir`` is configured.

    ``min_agreement`` (e.g. 0.5) verifies candidate pairs with the full
    signature agreement before treating them as duplicate edges —
    recommended with ``exact_groups``, where transitivity turns a single
    false-positive band collision into a cross-cluster merge that deletes
    another cluster's survivor. Pair cost is Σ bucket² via the band
    equi-join either way (operators/dedup.py scale notes).
    """
    if corpus_size is not None:
        from kafka_workers_spark.operators.dedup import lsh_plan

        k, n_bands, rows_per_band = lsh_plan(corpus_size, target_jaccard)
    staged = shingle_stage(tokenize_stage(docs.select(id_col, text_col)), shingle_n, distinct=True)
    sigs = minhash_agg(staged, [id_col], k=k)
    banded = sigs.select(
        id_col, "sig", F.explode(lsh_bands(F.col("sig"), n_bands, rows_per_band)).alias("bk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b, (F.col("a.bk") == F.col("b.bk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    ).select(
        F.col(f"a.{id_col}").alias("__pa"),
        F.col(f"b.{id_col}").alias("__pb"),
        F.col("a.sig").alias("__sig_a"),
        F.col("b.sig").alias("__sig_b"),
    )
    if min_agreement is not None:
        pairs = pairs.filter(
            minhash_agreement(F.col("__sig_a"), F.col("__sig_b"), k) >= min_agreement
        )
    pairs = pairs.select("__pa", "__pb")
    if exact_groups:
        from kafka_workers_spark.operators.components import connected_components

        comp = connected_components(pairs, src="__pa", dst="__pb")
        losers = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("__pb").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def _cleaned(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    redact: bool = False,
    paragraph_dedup: bool = False,
    blocklist: tuple[str, ...] | None = None,
    substring_dedup: int | None = None,
) -> DataFrame:
    """The shared cleaning prefix: [PII redaction →] [blocklist →]
    quality-filter → [global paragraph dedup →] [global substring
    dedup →] exact dedup over normalized text → LSH near-dedup. One
    definition so the chunking path (curate_corpus) and the mix build
    (prepare_training_mix) can never silently diverge.

    Stage order is deliberate: redaction first (so dedup digests see the
    redacted form — two docs differing only in PII values collapse);
    the blocklist next (a pure scan filter — C4's any-hit rule, pass
    the lexicon in normalized form — cutting documents before any
    heavy stage spends work on them); span dedup (paragraphs, then
    ``substring_dedup``-token runs — coarse to fine, and paragraph
    removal changes window positions, not the surviving runs) before
    whole-doc dedup, because stripping cross-document boilerplate FIRST
    lets otherwise-identical pages collapse in the exact pass."""
    if redact:
        from kafka_workers_spark.operators.text import redact_pii

        docs = redact_pii(docs, text_col=text_col)
    if blocklist is not None:
        from kafka_workers_spark.operators.text import blocklist_filter

        docs = blocklist_filter(docs, blocklist, text_col=text_col)
    filtered = quality_filter(docs, text_col, min_tokens=min_tokens)
    if paragraph_dedup:
        from kafka_workers_spark.operators.text import dedup_paragraphs

        kept = dedup_paragraphs(filtered, id_col=id_col, text_col=text_col)
        filtered = filtered.drop(text_col).join(
            kept.filter(F.col("n_paragraphs") > F.col("n_dropped")).select(id_col, text_col),
            id_col,
        )
    if substring_dedup is not None:
        from kafka_workers_spark.operators.text import dedup_substrings

        kept = dedup_substrings(filtered, id_col=id_col, text_col=text_col, k=substring_dedup)
        filtered = filtered.drop(text_col).join(
            kept.filter(F.col("n_tokens") > F.col("n_removed")).select(id_col, text_col),
            id_col,
        )
    exact = exact_dedup(
        filtered.withColumn("__norm", normalized(F.col(text_col))),
        content_col="__norm",
        id_col=id_col,
    ).drop("__norm")
    return near_dedup_lsh(exact, id_col=id_col, text_col=text_col)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    chunk_tokens: int = 128,
    overlap: int = 16,
    redact: bool = False,
    paragraph_dedup: bool = False,
    blocklist: tuple[str, ...] | None = None,
    substring_dedup: int | None = None,
    max_per_key: tuple[list[str], int] | None = None,
) -> DataFrame:
    """[PII redaction →] [blocklist →] quality-filter → [global
    paragraph dedup →] [global substring dedup →] exact dedup
    (normalized text) → LSH near-dedup → [per-key cap →]
    overlapping chunks. Returns chunk rows ready for tokenization.
    ``redact``, ``paragraph_dedup``, ``blocklist`` (normalized-form
    lexicon, C4 any-hit rule) and ``substring_dedup`` (the ExactSubstr
    window length k, e.g. 50) opt into the text stages
    (see _cleaned for why the order is what it is);
    ``max_per_key=(key_cols, cap)`` opts into the anti-domain-dominance
    cap (:func:`cap_per_key`) AFTER dedup — capping pre-dedup would let
    a domain's duplicates consume its budget."""
    near = _cleaned(docs, id_col, text_col, min_tokens,
                    redact=redact, paragraph_dedup=paragraph_dedup,
                    blocklist=blocklist, substring_dedup=substring_dedup)
    if max_per_key is not None:
        key_cols, cap = max_per_key
        near = cap_per_key(near, key_cols, cap, id_col=id_col)
    return chunk_documents(near, text_col=text_col, id_col=id_col,
                           chunk_tokens=chunk_tokens, overlap=overlap)


def sample_stratified(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int = 100,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a document iff its md5
    coin (0-99, functions.determinism.sample_coin — shared with the
    registered corpus_sample_pack oracle) falls under its stratum's
    percentage rate. Reproducible across re-runs/backfills (no RNG
    state), pushed down as a scan predicate — no shuffle."""
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    return docs.filter(sample_coin(id_col) < rate)


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    strata_col: str = "lang",
    order_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document its
    training-sequence id and offset, as if all documents in a stratum were
    concatenated in `order_col` order and cut every `budget` tokens
    (documents straddle boundaries, exactly like production tokenization).

    Adds (n_tokens, pack_shard, pack_id, pack_offset); the text payload is
    projected away before the window shuffle. With ``shards=None`` each
    stratum is one window partition — fine for bounded strata counts; at
    100 TB pass ``shards`` to pack within (stratum, hash-shard) so
    parallelism is shards×strata and only shard-edge sequences are
    approximate."""
    from pyspark.sql import Window as W

    n_tokens = F.size(tokens(F.col(text_col))).cast("bigint")
    shard = (
        F.pmod(F.hash(F.col(order_col)), F.lit(shards)).cast("int")
        if shards
        else F.lit(0)
    )
    slim = docs.select(
        strata_col, order_col, n_tokens.alias("n_tokens"), shard.alias("pack_shard")
    )
    w = (
        W.partitionBy(strata_col, "pack_shard")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = slim.withColumn("__cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return packed.select(
        strata_col,
        order_col,
        "n_tokens",
        "pack_shard",
        F.expr(f"__cum DIV {int(budget)}").alias("pack_id"),
        (F.col("__cum") % int(budget)).alias("pack_offset"),
    )


def _contamination_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_shared: int,
) -> DataFrame:
    """The exact-overlap hit rule shared by :func:`decontaminate` (which
    anti-joins the hits away) and :func:`contamination_radius` (which
    seeds a BFS from them): training ids sharing more than ``max_shared``
    word n-grams with the eval union."""

    def digests(df: DataFrame) -> DataFrame:
        staged = shingle_stage(
            tokenize_stage(df.select(id_col, text_col), text_col=text_col),
            shingle_n,
            distinct=True,
        )
        return staged.select(id_col, F.explode("shingles").alias("__s")).select(
            id_col, F.substring(F.md5("__s"), 1, 16).alias("__h")
        )

    eval_h = digests(eval_docs).select("__h").distinct()
    return (
        digests(train)
        .join(F.broadcast(eval_h), "__h")
        .groupBy(id_col)
        .agg(F.count("*").alias("__n_shared"))
        .filter(F.col("__n_shared") > max_shared)
        .select(id_col)
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    max_shared: int = 0,
) -> DataFrame:
    """Strike training documents that share more than `max_shared` word
    n-grams with the evaluation set (n-gram-overlap decontamination).

    The eval side collapses to distinct 64-bit shingle digests and
    broadcasts (benchmarks are tiny next to the corpus); the train side's
    only shuffle is the per-doc hit-count aggregate. Returns the surviving
    training rows unchanged."""
    hits = _contamination_hits(
        train, eval_docs, id_col, text_col, shingle_n, max_shared
    )
    return train.join(hits, id_col, "left_anti")


def contamination_radius(
    train: DataFrame,
    eval_docs: DataFrame,
    max_hops: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    max_shared: int = 0,
    dedup_k: int = 8,
    dedup_bands: int = 4,
    dedup_rows: int = 2,
    dedup_shingle_n: int = 3,
) -> DataFrame:
    """The blast radius the per-doc screens cannot see: ``(id_col,
    hops)`` where hops 0 = a DIRECT eval-overlap hit (the
    :func:`decontaminate` rule) and hops h = within h near-dup LSH links
    of one — the paraphrase-of-paraphrase chain. A leaks the benchmark
    verbatim; B near-dups A with one edit per 8-gram window, so B shares
    NO exact shingle with the eval and every per-doc pass keeps it; C
    paraphrases B. Striking the radius (or auditing it before release)
    is a GRAPH-distance question, which is why
    :func:`~kafka_workers_spark.operators.components.bfs_hops` exists.

    Shape at scale: the direct hits are the decontaminate broadcast
    join; the near-dup edges are band-collision pairs over the corpus
    (digests-only shuffles, the dedup_minhash_lsh plan); the BFS is
    frontier-sized per hop — and with small ``max_hops`` (the practical
    radius) the whole thing is a handful of key-shuffles. Blocking
    parameters are the dedup family's; pick ``dedup_shingle_n`` by the
    paraphrase tolerance you need (the decontaminate_near shingle-width
    rule)."""
    from kafka_workers_spark.operators.components import bfs_hops

    hits = _contamination_hits(
        train, eval_docs, id_col, text_col, shingle_n, max_shared
    )
    bands = build_dedup_index(
        train,
        id_col=id_col,
        text_col=text_col,
        k=dedup_k,
        n_bands=dedup_bands,
        rows_per_band=dedup_rows,
        shingle_n=dedup_shingle_n,
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("__src"), F.col(f"b.{id_col}").alias("__dst")
    )
    return bfs_hops(
        pairs,
        hits.select(F.col(id_col).alias("node")),
        max_hops=max_hops,
        src="__src",
        dst="__dst",
    ).select(F.col("node").alias(id_col), "hops")


def eval_digest_bloom(
    eval_docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 8,
    n_bits: int = 1 << 22,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom sketch of an eval union's shingle digests — the fixed-size
    form of :func:`decontaminate`'s eval side for when the union of every
    benchmark is itself large: build once per benchmark, store the sketch
    row, `bloom_merge` across benchmarks, and pass the result to
    :func:`decontaminate_with_bloom` (or
    ``prepare_training_mix(..., eval_bloom=...)``). Same tokenizer/shingler/digest
    as the exact path, so the two sides stay comparable. 4M bits = 512 KB
    regardless of eval cardinality."""
    from kafka_workers_spark.functions.sketches import bloom_build

    staged = shingle_stage(
        tokenize_stage(eval_docs.select(text_col), text_col=text_col),
        shingle_n,
        distinct=True,
    )
    digs = staged.select(F.explode("shingles").alias("__s")).select(
        F.substring(F.md5("__s"), 1, 16).alias("__h")
    )
    return bloom_build(digs, "__h", n_bits=n_bits, n_hashes=n_hashes)


def decontaminate_with_bloom(
    train: DataFrame,
    eval_bloom: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    max_shared: int = 0,
) -> DataFrame:
    """:func:`decontaminate` against a STORED Bloom of eval digests
    (:func:`eval_digest_bloom`) instead of the exact broadcast set — the
    shape for a huge, slowly-growing eval union: the corpus pass probes a
    fixed 512 KB sketch, no eval-side recompute per run.

    One-sided error, and on the safe side for leakage: a true shared
    shingle ALWAYS counts (no false negatives), while false-positive
    shingles can only over-count — so contaminated docs are never missed,
    and clean docs are over-dropped with probability ≈ 1-(1-fpr)^shingles
    per doc (at the default ~1e-4 fpr and 1k-shingle docs, ~10% over-drop;
    raise ``n_bits`` or ``max_shared`` to trade retention against strictness).
    """
    from kafka_workers_spark.functions.sketches import bloom_probe

    staged = shingle_stage(
        tokenize_stage(train.select(id_col, text_col), text_col=text_col),
        shingle_n,
        distinct=True,
    )
    grams = staged.select(id_col, F.explode("shingles").alias("__s")).select(
        id_col, F.substring(F.md5("__s"), 1, 16).alias("__h")
    )
    hits = (
        bloom_probe(grams, eval_bloom, "__h", out="__hit")
        .filter(F.col("__hit"))
        .groupBy(id_col)
        .agg(F.count("*").alias("__n_shared"))
        .filter(F.col("__n_shared") > max_shared)
        .select(id_col)
    )
    return train.join(hits, id_col, "left_anti")


def decontaminate_near(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """NEAR-duplicate eval decontamination: strike training documents
    whose MinHash signature collides with an eval document's in any LSH
    band AND agrees at ≥ ``min_est_jaccard`` — the fuzzy complement to
    :func:`decontaminate`'s exact n-gram overlap. A paraphrased or
    lightly-edited benchmark leak (reworded question, renumbered
    answer) keeps most of its SHORT shingles — so its signature still
    collides — while a single edit inside every long n-gram blinds the
    exact 8-gram pass completely; run both, in either order (they
    commute: each only ever drops train rows). ``shingle_n`` is the
    paraphrase-tolerance knob: an edit every E tokens caps n-gram
    Jaccard near (1 − n/E)/(1 + n/E), so heavier paraphrase wants
    narrower shingles (n=2 tolerates an edit every 8 tokens at J≈0.6;
    n=3 sits at the 0.5 boundary there).

    Returns ``(survivors, flagged)`` — flagged carries one row per
    struck train doc: ``(id_col, eval_id, est_jaccard)``, its
    best-matching eval document (ties broken toward the lower eval id),
    the audit trail a leakage report wants.

    Shape at scale: the eval set is tiny next to the corpus, so its
    banded signatures BROADCAST (like :func:`decontaminate`'s digest
    set); the train side pays ONE scan (signatures) plus a broadcast
    band equi-join — candidates carry two k-digest signatures into the
    agreement check, never text, and there is no corpus self-join and
    no shuffle of corpus bytes. Cited analog: the GPT-3 appendix-C /
    Dolma decontamination passes run exactly this band-then-verify
    shape against benchmark suites."""
    if not 0.0 < min_est_jaccard <= 1.0:
        raise ValueError(
            f"min_est_jaccard ({min_est_jaccard}) must be in (0, 1]"
        )

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        staged = shingle_stage(
            tokenize_stage(df.select(id_col, text_col), text_col=text_col),
            shingle_n,
            distinct=True,
        )
        sigs = minhash_agg(staged, [id_col], k=k)
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.col("sig").alias(f"__sig_{out_id}"),
            F.explode(lsh_bands(F.col("sig"), n_bands, rows_per_band)).alias("__b"),
        ).select(
            out_id,
            f"__sig_{out_id}",
            F.col("__b.band").alias("band"),
            F.col("__b.band_key").alias("band_key"),
        )

    tb = banded(train, "__t_id")
    eb = banded(eval_docs, "eval_id")
    flagged = (
        tb.join(F.broadcast(eb), ["band", "band_key"])
        .select(
            "__t_id",
            "eval_id",
            minhash_agreement(
                F.col("__sig___t_id"), F.col("__sig_eval_id"), k
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        # best match per train doc: max agreement, min eval id on ties —
        # deterministic, and one row per struck doc for the report
        .groupBy("__t_id")
        .agg(
            F.max(F.struct(F.col("est_jaccard"), (-F.col("eval_id")).alias("__neg")))
            .alias("__best")
        )
        .select(
            F.col("__t_id").alias(id_col),
            (-F.col("__best.__neg")).alias("eval_id"),
            F.col("__best.est_jaccard").alias("est_jaccard"),
        )
    )
    survivors = train.join(flagged.select(id_col), id_col, "left_anti")
    return survivors, flagged


def prepare_training_mix(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    rates: dict[str, int] | None = None,
    default_rate: int = 100,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    min_tokens: int = 5,
    redact: bool = False,
    paragraph_dedup: bool = False,
    blocklist: tuple[str, ...] | None = None,
    substring_dedup: int | None = None,
    quality_keep_fraction: float | None = None,
    scorer=None,
    max_per_key: tuple[list[str], int] | None = None,
    eval_bloom: DataFrame | None = None,
    dsir: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """The full batch data-mix build: curate ([PII redaction →] quality
    filter → [global paragraph dedup →] exact dedup → LSH near-dedup) →
    [model scoring + top-fraction quality pruning →] decontaminate
    against the eval set → [per-key caps →] stratified mixture
    sampling → sequence packing. Returns per-document pack assignments;
    join back on `id_col` for the payloads.

    ``quality_keep_fraction`` opts into the model-quality pruning stage:
    documents are scored (``scorer``, or operators.scoring's default
    heuristic) and only the top fraction survives
    (:func:`sample_by_quality`) — after dedup (so duplicate clusters
    don't distort the score quantile) and before decontamination (no
    point scanning eval n-grams for documents the mix won't use).
    ``max_per_key=(key_cols, cap)`` opts into the anti-domain-dominance
    cap (:func:`cap_per_key`), LAST — after dedup, quality pruning, and
    decontamination — so each domain's budget is spent only on clean,
    unique, high-quality docs (a contaminated doc struck after capping
    would leave its domain under-filled although clean replacements
    existed). ``eval_bloom`` swaps the exact decontamination for the
    stored-sketch form (:func:`decontaminate_with_bloom`) — mutually
    exclusive with ``eval_docs``."""
    if eval_docs is not None and eval_bloom is not None:
        raise ValueError(
            "prepare_training_mix: pass eval_docs OR eval_bloom, not both"
        )
    clean = _cleaned(docs, id_col, text_col, min_tokens,
                     redact=redact, paragraph_dedup=paragraph_dedup,
                     blocklist=blocklist, substring_dedup=substring_dedup)
    if quality_keep_fraction is not None:
        from kafka_workers_spark.operators.scoring import score_documents

        scored = score_documents(clean, text_col=text_col, score_col="__q", scorer=scorer)
        clean = sample_by_quality(scored, "__q", quality_keep_fraction).drop("__q")
    if dsir is not None:
        from kafka_workers_spark.operators.text import dsir_resample, dsir_weights

        target_docs, dsir_k = dsir
        w = dsir_weights(
            clean.select(id_col, text_col), target_docs,
            id_col=id_col, text_col=text_col,
        )
        keep = dsir_resample(w, k=dsir_k, id_col=id_col).select(id_col)
        clean = clean.join(keep, id_col, "left_semi")
    if eval_docs is not None:
        clean = decontaminate(clean, eval_docs, id_col=id_col, text_col=text_col)
    elif eval_bloom is not None:
        clean = decontaminate_with_bloom(
            clean, eval_bloom, id_col=id_col, text_col=text_col
        )
    if max_per_key is not None:
        key_cols, cap = max_per_key
        clean = cap_per_key(clean, key_cols, cap, id_col=id_col)
    sampled = sample_stratified(
        clean, rates or {}, default_rate=default_rate, strata_col=strata_col, id_col=id_col
    )
    return pack_sequences(
        sampled, budget=budget, strata_col=strata_col, order_col=id_col, text_col=text_col
    )


def curate_corpus_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    min_tokens: int = 5,
    chunk_tokens: int = 128,
    overlap: int = 16,
    dedup_on: str = "content",
    redact: bool = False,
) -> DataFrame:
    """Streaming curation: [PII redaction →] quality-filter → dedup
    within the watermark → chunking, all streaming-safe stages
    (redaction is pure column expressions, so it runs identically on the
    stream — and BEFORE the digest, so documents differing only in PII
    values collapse, same ordering rationale as the batch _cleaned).

    ``dedup_on='content'`` keys the bounded-state streaming dedup
    (streaming/dedup.py) on the normalized-content md5 — exact dedup.
    ``dedup_on='simhash'`` keys it on the 32-bit SimHash expression
    (operators/dedup.simhash_expr, bit-identical to the batch aggregate):
    token-multiset near-duplicates — reordered boilerplate, shuffled list
    items — collapse too, the duplicate class a content digest misses.
    Either way state size tracks the watermark delay, not corpus size.

    Full LSH near-dedup is deliberately NOT in the streaming path:
    candidate pairing is a self-join over the whole corpus — in
    production it runs as a periodic batch compaction over the landed
    output (:func:`compact_landed_corpus`, tested end-to-end in
    tests/test_pipeline.py), not per micro-batch, which would only dedup
    within a batch and silently miss cross-batch near-duplicates.
    """
    from kafka_workers_spark.operators.dedup import simhash_expr
    from kafka_workers_spark.operators.text import tokens
    from kafka_workers_spark.streaming.dedup import dedup_within_watermark

    if dedup_on not in ("content", "simhash"):
        raise ValueError(f"dedup_on must be 'content' or 'simhash', got {dedup_on!r}")
    if redact:
        from kafka_workers_spark.operators.text import redact_pii

        docs = redact_pii(docs, text_col=text_col)
    filtered = quality_filter(docs, text_col, min_tokens=min_tokens)
    digest = (
        F.md5(normalized(F.col(text_col)))
        if dedup_on == "content"
        else simhash_expr(tokens(normalized(F.col(text_col)))).cast("string")
    )
    hashed = filtered.withColumn("__digest", digest)
    exact = dedup_within_watermark(
        hashed, keys=["__digest"], ts_col=ts_col, delay=watermark, tiebreaker=id_col
    ).drop("__digest")
    return chunk_documents(exact, text_col=text_col, id_col=id_col,
                           chunk_tokens=chunk_tokens, overlap=overlap)


def compact_landed_corpus(
    chunks: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Periodic batch compaction over landed streaming output: the
    cross-batch near-dedup that :func:`curate_corpus_stream` deliberately
    defers (its watermark dedup is per content/simhash key; two near-dup
    documents arriving in different micro-batches both land).

    ``chunks`` is the landed chunk table (chunk_documents output — the
    original document columns ride along on every chunk row). The
    compaction collapses back to one row per document, runs the full
    :func:`near_dedup_lsh` pairing over the accumulated corpus, and keeps
    only the chunks of surviving documents. Run it on a schedule (e.g.
    per landing-partition), write the result to a temp directory, and
    publish it with :func:`swap_output` (crash-safe: the old corpus
    survives every failure point) — the standard lambda-architecture
    split: cheap bounded-state dedup on the stream, exhaustive
    Σ bucket² pairing in batch where a self-join is affordable.
    """
    docs = chunks.select(id_col, text_col).dropDuplicates([id_col])
    survivors = near_dedup_lsh(docs, id_col=id_col, text_col=text_col, **lsh_kwargs).select(
        id_col
    )
    return chunks.join(survivors, id_col, "left_semi")


def split_corpus(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    dup_pairs: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
    groups: DataFrame | None = None,
) -> DataFrame:
    """Deterministic train/val/test split with near-duplicate leakage
    safety.

    ``weights`` maps split name → integer percent (must sum to 100;
    default ``{"train": 98, "val": 1, "test": 1}``). Each document's
    split comes from an md5 coin over ``salt || group_id`` — no RNG
    state, so re-runs and backfills split identically (the same
    reproducibility contract as :func:`sample_stratified`, salted so the
    split coin is independent of the sampling coin). The dict's
    INSERTION ORDER fixes which coin range each split owns — keep it
    stable across runs, like the salt.

    ``dup_pairs`` is the leakage guard: pass a near-duplicate edge list
    (e.g. the verified pairs from LSH/RHP blocking) and the coin is
    taken over the document's duplicate-COMPONENT id (min-id via
    operators/components.connected_components) instead of its own id —
    every member of a near-dup cluster lands in the SAME split. Without
    this, a validation set silently contains near-twins of training
    documents and evals measure memorization, which is the entire reason
    per-doc random splitting is wrong for dedup'd corpora. NOTE: with
    ``dup_pairs`` the call is EAGER (component rounds execute now — the
    same documented exception as ``near_dedup_lsh(exact_groups=True)``).

    ``groups`` is the STORE-SERVED form of the same guard (round 14 —
    the fourth components-store consumer): pass a precomputed
    ``(id_col, group_id)`` mapping (the ``_cc_store`` consumer shape)
    and the coin is taken over ``group_id`` directly — fully LAZY, no
    closure rounds, no pair regeneration; the mapping was resolved once
    per corpus snapshot. Mutually exclusive with ``dup_pairs``.

    Scale: one broadcast-or-shuffle join against the (pairs-sized)
    component table plus pure column expressions; no collect.
    """
    weights = weights or {"train": 98, "val": 1, "test": 1}
    if any(w <= 0 for w in weights.values()) or sum(weights.values()) != 100:
        raise ValueError(f"weights must be positive ints summing to 100, got {weights}")
    if dup_pairs is not None and groups is not None:
        raise ValueError("pass dup_pairs OR groups, not both")
    if groups is not None:
        docs = docs.join(
            groups.select(id_col, F.col("group_id").alias("__grp")),
            id_col,
            "left",
        )
        grp = F.coalesce(F.col("__grp"), F.col(id_col))
    elif dup_pairs is not None:
        from kafka_workers_spark.operators.components import connected_components

        src, dst = pair_cols
        comp = connected_components(dup_pairs, src=src, dst=dst)
        docs = docs.join(
            comp.select(F.col("node").alias(id_col), F.col("comp").alias("__grp")),
            id_col,
            "left",
        )
        grp = F.coalesce(F.col("__grp"), F.col(id_col))
    else:
        grp = F.col(id_col)
    coin = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}|"), grp.cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        expr = F.when(coin < acc, name) if expr is None else expr.when(coin < acc, name)
    out = docs.withColumn(out_col, expr)
    return out.drop("__grp") if (dup_pairs is not None or groups is not None) else out


def sample_by_quality(
    docs: DataFrame,
    score_col: str,
    keep_fraction: float,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep the top ``keep_fraction`` of documents by a quality score
    (e.g. operators.text.gopher_rules outputs or a model score) — the
    quality-pruning pass of a data mix, as a threshold filter.

    The cutoff is the (1 - keep_fraction) quantile from ONE
    percentile_approx aggregate (mergeable sketch, rank error ≤
    1/accuracy — functions/sketches.py discussion), so the pass is a
    tiny aggregate plus a pushed-down scan filter: no sort, no window,
    no per-row rank shuffle — sorting 100 TB to take the top third is
    exactly the plan this avoids. EAGER in one small way: the cutoff
    value is computed now (two-pass by nature, like every
    quantile-threshold filter).
    """
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    if keep_fraction == 1.0:
        return docs
    cutoff = docs.agg(
        F.percentile_approx(score_col, 1.0 - keep_fraction, accuracy)
    ).first()[0]
    if cutoff is None:  # all-NULL scores: nothing to rank, keep nothing
        return docs.filter(F.lit(False))
    return docs.filter(F.col(score_col) >= F.lit(cutoff))


def score_buckets(
    docs: DataFrame,
    score_col: str,
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    accuracy: int = 10_000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Partition a corpus into quantile buckets of a score column — the
    CCNet head/middle/tail split (Wenzek et al. 2020 §4.4: terciles of
    LM perplexity, ascending, so "head" is the most in-distribution
    text; feed :func:`kafka_workers_spark.operators.text.bigram_lm_score`'s
    ``ppl`` here). A generalization of :func:`sample_by_quality` from
    one threshold-keep to labelled multi-way bucketing.

    Unlike sample_by_quality's documented-eager cutoff, this is fully
    JOB-FREE at build: the cut values come from ONE ``percentile_approx``
    aggregate (mergeable sketch, rank error <= 1/accuracy) carried
    in-plan as a one-row broadcast — no sort, no window, no per-row rank
    shuffle, and no action until the caller's first. Bucket boundaries
    are therefore approximate with sketch error, which is the correct
    trade at 100 TB (exact terciles would need a global sort).

    Rows with a NULL score get a NULL bucket (they have no rank); if the
    score column is entirely NULL every bucket is NULL. Boundary rule:
    ``score <= cut`` goes to the lower bucket.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need exactly len(cuts)+1 labels, got {len(labels)} labels "
            f"for {len(cuts)} cuts"
        )
    if not all(0.0 < c < 1.0 for c in cuts) or list(cuts) != sorted(set(cuts)):
        raise ValueError(f"cuts must be strictly increasing within (0, 1): {cuts}")
    q = docs.agg(
        F.percentile_approx(
            score_col, F.array(*[F.lit(float(c)) for c in cuts]), F.lit(accuracy)
        ).alias("__cuts")
    )
    expr = F.when(
        F.col(score_col).isNull() | F.col("__cuts").isNull(), F.lit(None).cast("string")
    )
    for i, lab in enumerate(labels[:-1]):
        expr = expr.when(F.col(score_col) <= F.element_at("__cuts", i + 1), F.lit(lab))
    expr = expr.otherwise(F.lit(labels[-1]))
    return (
        docs.crossJoin(F.broadcast(q))
        .withColumn(bucket_col, expr)
        .drop("__cuts")
    )


def temperature_weights(
    token_counts: dict[str, int], temperature: float = 1.0
) -> dict[str, float]:
    """Temperature-smoothed mixture weights from per-stratum token
    counts — the standard multilingual/domain rebalancing rule
    (Conneau & Lample 2019, XLM §3.1; also mT5, BLOOM data mixes):
    ``w_i ∝ p_i^(1/T)`` where ``p_i`` is the stratum's natural share.
    ``T=1`` reproduces the natural distribution; ``T>1`` flattens it
    (upweights low-resource strata — the usual direction, e.g. T=3.33
    for mT5's alpha=0.3); ``T<1`` sharpens it. Returns weights summing
    to 1.0, ready for :func:`mixture_rates`'s ``target_weights``.

    Driver-side pure math over a strata-sized dict, like
    :func:`mixture_rates` — the counts come from one tiny aggregate.
    Note the feasibility interaction: flattening demands MORE tokens
    from small strata, so a high ``T`` makes :func:`mixture_rates`
    correctly refuse token budgets a natural mix would satisfy (this
    engine never upsamples; repeat-epoch weighting belongs in the
    training loop).
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if not token_counts:
        raise ValueError("token_counts is empty")
    negative = {s: c for s, c in token_counts.items() if c < 0}
    if negative:
        # a negative base under a fractional exponent would silently
        # produce complex "weights" — fail at the cause (a broken
        # upstream aggregate), not in a later consumer
        raise ValueError(f"token_counts must be non-negative: {negative}")
    total = float(sum(token_counts.values()))
    if total <= 0:
        raise ValueError("token_counts must sum to a positive value")
    raw = {s: (c / total) ** (1.0 / temperature) for s, c in token_counts.items()}
    z = sum(raw.values())
    return {s: v / z for s, v in raw.items()}


def mixture_rates(
    token_counts: dict[str, int],
    target_weights: dict[str, float],
    token_budget: int,
) -> dict[str, int]:
    """Solve per-stratum sampling percentages for a target data mix:
    given available tokens per stratum, desired mixture weights, and a
    total token budget, return the integer percent rates to feed
    :func:`sample_stratified`.

    A stratum's ideal take is ``budget * weight / available``; rates cap
    at 100 (this engine never upsamples — repeat-epoch weighting belongs
    in the training loop, not in corpus prep, where silent duplication
    would undo the dedup passes). Driver-side pure math over a
    strata-sized dict (the per-stratum token counts come from one tiny
    aggregate, e.g. ``docs.groupBy('lang').agg(sum(n_tokens))``).
    Raises if the requested mix is infeasible even at rate 100 for a
    stratum with nonzero weight — a silent mix distortion is worse than
    a loud one.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    total_w = sum(target_weights.values())
    if total_w <= 0:
        raise ValueError("target_weights must sum to a positive value")
    rates: dict[str, int] = {}
    for stratum, w in target_weights.items():
        want = token_budget * (w / total_w)
        have = token_counts.get(stratum, 0)
        if want == 0:
            rates[stratum] = 0
            continue
        # 1e-9 relative slack: weight sums like 0.6+0.3+0.1 are not exactly
        # 1.0 in floats, and a stratum consumed in full must not read as
        # infeasible by one ulp
        if have <= 0 or want > have * (1 + 1e-9):
            raise ValueError(
                f"stratum {stratum!r}: need {want:.0f} tokens for the mix "
                f"but only {have} are available (cannot upsample)"
            )
        rates[stratum] = min(100, max(1, round(100.0 * want / have)))
    return rates


def unimax_allocation(
    token_counts: DataFrame,
    token_budget: int | None = None,
    max_epochs: int = 1,
    stratum_col: str = "lang",
    count_col: str = "n_tokens",
    budget_fraction: tuple[int, int] | None = None,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): waterfill a total token budget over
    strata, capping every stratum at ``max_epochs`` passes over its
    corpus — the principled successor to :func:`temperature_weights`
    (temperature sampling over-repeats the smallest strata; UniMax
    makes the repeat ceiling EXPLICIT and spreads the remainder
    uniformly over the strata that can still absorb it).

    Closed form, not iteration: sort strata by capacity ``cap =
    max_epochs · n_tokens`` ascending; stratum k (of L) is capped iff
    ``cap_k · (L − k + 1) + prefix_{k−1} <= budget`` — an EXACT integer
    predicate in DECIMAL(38,0) (cap × stratum-count products overflow
    int64 at web scale), monotone in k, equivalent to "its capacity sits
    below the waterfilling level". Uncapped strata then split the
    remaining budget equally: ``alloc = (budget − Σ capped caps) /
    (L − m)`` — the two floats (``alloc``, ``epochs_used``) are single
    IEEE divisions over exact integers, bit-reproducible cross-engine.
    If the budget exceeds total capacity every stratum is capped and the
    budget is deliberately UNDERFILLED (this engine never upsamples past
    the epoch ceiling — the ceiling is the whole point).

    The budget is EITHER an absolute ``token_budget`` OR a rational
    ``budget_fraction=(num, den)`` of the corpus's total tokens ("spend
    4/5 of one epoch"), resolved IN-PLAN as exact integer arithmetic
    (``total · num DIV den``) from the same one-row totals broadcast —
    job-free, so a fraction-driven allocation never runs an eager
    count.

    ``token_counts`` is a strata-keyed frame (one row per stratum, e.g.
    ``docs.groupBy('lang').agg(sum(n_tokens))``) — the windows below run
    over L rows, never the corpus; the corpus-sized work is the
    caller's count aggregate. Returns ``stratum_col, n_tokens, cap,
    is_capped, alloc, epochs_used`` ordered-agnostic (one row per
    stratum). NULL strata and negative counts raise at the cause.
    """
    if (token_budget is None) == (budget_fraction is None):
        raise ValueError("pass exactly one of token_budget / budget_fraction")
    if token_budget is not None and token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if budget_fraction is not None and (
        budget_fraction[0] <= 0 or budget_fraction[1] <= 0
    ):
        raise ValueError(f"budget_fraction must be positive, got {budget_fraction}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    from pyspark.sql import Window as W

    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    guarded = token_counts.select(
        F.when(
            F.col(stratum_col).isNull(),
            F.raise_error(F.lit("unimax_allocation: NULL stratum")),
        )
        .otherwise(F.col(stratum_col))
        .alias(stratum_col),
        F.when(
            F.col(count_col) < 0,
            F.raise_error(
                F.lit(f"unimax_allocation: negative {count_col} (broken aggregate)")
            ),
        )
        .otherwise(F.col(count_col))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = W.orderBy("cap", stratum_col)
    ranked = (
        guarded.withColumn("cap", F.col("n_tokens") * F.lit(int(max_epochs)))
        .withColumn("__k", F.row_number().over(w))
        .withColumn("__prefix", F.sum("cap").over(w) - F.col("cap"))
    )
    totals = ranked.agg(
        F.count("*").alias("__L"), F.sum("n_tokens").alias("__T")
    )
    if token_budget is not None:
        b = F.lit(int(token_budget))
    else:
        num, den = budget_fraction
        b = F.expr(f"(__T * {int(num)}) DIV {int(den)}")
    flagged = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "is_capped",
        d38(F.col("cap")) * d38(F.col("__L") - F.col("__k") + 1) + d38(F.col("__prefix"))
        <= d38(b),
    )
    capped_tot = flagged.agg(
        F.sum(F.when(F.col("is_capped"), F.col("cap")).otherwise(0)).alias("__pm"),
        F.sum(F.col("is_capped").cast("int")).alias("__m"),
    )
    share = (b.cast("double") - F.col("__pm").cast("double")) / (
        F.col("__L") - F.col("__m")
    ).cast("double")
    return (
        flagged.crossJoin(F.broadcast(capped_tot))
        .select(
            stratum_col,
            "n_tokens",
            "cap",
            "is_capped",
            F.when(F.col("is_capped"), F.col("cap").cast("double"))
            .otherwise(share)
            .alias("alloc"),
            (
                F.when(F.col("is_capped"), F.col("cap").cast("double")).otherwise(share)
                / F.col("n_tokens").cast("double")
            ).alias("epochs_used"),
        )
    )


def build_dedup_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Materialize the stored state for incremental near-dedup: one row
    per (doc, band) with the LSH band key — ``(id_col, band, band_key)``.
    Persist this next to the corpus (e.g. ``write_sized`` partitioned by
    band) and hand it to :func:`near_dedup_incremental` at every ingest;
    the index is corpus-sized × n_bands ROWS but only ~50 bytes each —
    the whole point is that ingest never re-reads corpus text.
    Parameters must match between index builds and ingest calls (same
    k/bands/shingles or the keys are meaningless — store them with the
    index)."""
    staged = shingle_stage(tokenize_stage(docs.select(id_col, text_col)), shingle_n, distinct=True)
    sigs = minhash_agg(staged, [id_col], k=k)
    return sigs.select(
        id_col, F.explode(lsh_bands(F.col("sig"), n_bands, rows_per_band)).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.band_key").alias("band_key"))


def dedup_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Per-batch near-dup PAIR DELTA against a stored band index — the
    incremental feeder for the streaming components fold
    (streaming/components.py): where :func:`near_dedup_incremental`
    applies the greedy drop rule immediately, this emits the raw
    candidate pairs (batch x stored-corpus band collisions, plus
    within-batch collisions a < b) and leaves the survivor policy to
    the components store's consumers (exact transitive resolution,
    quality-ranked survivors, group stats).

    The identity that makes it correct: every colliding pair (i, j)
    with i landing before j is emitted exactly once — in j's batch,
    against an index that already holds i's bands (or within j's own
    batch) — so the UNION of all batch deltas equals the one-shot
    band-collision pair set of the full corpus, and the incremental
    closure (components_merge per batch) equals the one-shot
    connected_components over it (pinned in
    tests/test_components_stream.py). Returns ``(pairs, new_index_rows)``
    with pairs as ``(doc_a, doc_b)``; append the second element to the
    index (every batch doc indexes, unlike the greedy variant which
    indexes only survivors — groups need ALL members).

    Shape at scale: batch signatures + ONE equi-join against the index
    on (band, band_key) + one within-batch self-join on the same key —
    per-batch cost is O(batch x collisions), never a corpus pass."""
    new_bands = build_dedup_index(
        new_docs, id_col=id_col, text_col=text_col, k=k,
        n_bands=n_bands, rows_per_band=rows_per_band, shingle_n=shingle_n,
    )
    nb = new_bands.alias("nb")
    ix = index.alias("ix")
    cross = (
        nb.join(
            ix,
            (F.col("nb.band") == F.col("ix.band"))
            & (F.col("nb.band_key") == F.col("ix.band_key")),
        )
        .select(
            F.col(f"ix.{id_col}").alias("doc_a"),
            F.col(f"nb.{id_col}").alias("doc_b"),
        )
    )
    a, b = new_bands.alias("a"), new_bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
    )
    pairs = cross.unionByName(within).distinct()
    return pairs, new_bands


def near_dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an ingest batch against an EXISTING corpus without touching
    corpus text: a new document is dropped if any of its LSH band keys
    collides with the stored index (near-dup of something already
    landed) or with a lower-id surviving document in the same batch
    (within-batch greedy rule, same as :func:`near_dedup_lsh`).

    Returns ``(survivors, new_index_rows)``: append the second to the
    index so the next ingest sees this batch — the incremental loop a
    production pipeline actually runs (per-batch cost is
    batch_sigs + one equi-join against the index, NOT a corpus self-join;
    contrast :func:`compact_landed_corpus`, the periodic full pass).

    Within-batch semantics note: batch docs colliding ONLY with each
    other resolve greedily (lowest id wins), and the survivor's bands
    enter the index even when it also collided with a dropped sibling.
    """
    new_bands = build_dedup_index(
        new_docs, id_col=id_col, text_col=text_col, k=k,
        n_bands=n_bands, rows_per_band=rows_per_band, shingle_n=shingle_n,
    )
    # vs stored corpus: any band-key hit kills the new doc
    hit_existing = (
        new_bands.join(
            index.select("band", "band_key").distinct(), ["band", "band_key"]
        )
        .select(id_col)
        .distinct()
    )
    fresh_bands = new_bands.join(hit_existing, id_col, "left_anti")
    # within the remaining batch: greedy lowest-id survivor per collision
    a, b = fresh_bands.alias("a"), fresh_bands.alias("b")
    batch_losers = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    surviving_bands = fresh_bands.join(batch_losers, id_col, "left_anti")
    survivor_ids = surviving_bands.select(id_col).distinct()
    return new_docs.join(survivor_ids, id_col, "left_semi"), surviving_bands


def diff_corpora(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff for corpus backfills/audits: one row per document
    present in either snapshot, tagged ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` (content compared by md5 digest, so the
    full-outer join shuffles 16-byte digests + ids, never two copies of
    the text). The audit that answers "what did this reprocess actually
    touch" before swapping a landed corpus — filter out ``unchanged``
    and you have the changelog.
    """
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("__old_digest"))
    n = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("__new_digest"))
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__old_digest").isNull(), F.lit("added"))
        .when(F.col("__new_digest").isNull(), F.lit("removed"))
        .when(F.col("__old_digest") != F.col("__new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(id_col, status.alias("status"))


def curate_embeddings(
    vecs: DataFrame,
    dim: int,
    cents: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.99,
    quantize: bool = False,
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 7,
    method: str = "rhp",
    semantic_k: int = 16,
    semantic_train_mod: int | None = 4,
    pq_cents: DataFrame | None = None,
    pq_dsub: int | None = None,
) -> DataFrame:
    """The embedding-side analog of :func:`curate_corpus`: label-free
    near-dedup → optional ingest-time IVF list assignment against stored
    centroids (:func:`~kafka_workers_spark.operators.similarity.assign_lists`,
    pass the persisted ``cents`` table) → optional int8 storage
    quantization → optional PQ encoding against stored codebooks
    (:func:`~kafka_workers_spark.operators.similarity.pq_encode` — pass
    the persisted ``pq_cents`` table from
    :func:`~kafka_workers_spark.operators.similarity.pq_train` plus its
    ``pq_dsub``; lands an ``array<int>`` ``pq_codes`` column ready for
    code-only ADC search). One composition so an embedding table lands
    dedup'd, searchable, and 4×–40× smaller in a single pass.

    ``method`` picks the blocking strategy for the dedup stage, both
    ending in the same exact-cosine verify: ``"rhp"`` (default) is
    random-hyperplane LSH (operators.similarity.near_dedup_embeddings —
    recall independent of cluster geometry); ``"semantic"`` is
    SemDeDup-style trained-cluster blocking
    (operators.similarity.semantic_dedup with ``semantic_k`` lists —
    pairs straddling a cluster boundary are not candidates, the paper's
    accepted trade). ``semantic_train_mod`` is the quantizer's id-mod
    training sample; pass ``None`` when the id space has no multiples
    of it (e.g. sharded odd-only allocation) to train on everything.
    """
    from kafka_workers_spark.operators.similarity import (
        assign_lists,
        near_dedup_embeddings,
        pq_encode,
        quantize_embeddings,
        semantic_dedup,
    )

    if (pq_cents is None) != (pq_dsub is None):
        raise ValueError("curate_embeddings: pq_cents and pq_dsub go together")

    if method == "semantic":
        out = semantic_dedup(
            vecs, dim, id_col=id_col, vec_col=vec_col, k=semantic_k,
            min_cosine=min_cosine, train_mod=semantic_train_mod,
        )
    elif method == "rhp":
        out = near_dedup_embeddings(
            vecs, dim, id_col=id_col, vec_col=vec_col, min_cosine=min_cosine,
            n_bits=n_bits, n_bands=n_bands, seed=seed,
        )
    else:
        raise ValueError(f"curate_embeddings: unknown method {method!r}")
    if cents is not None:
        out = assign_lists(out, cents, id_col=id_col, vec_col=vec_col)
    if pq_cents is not None:
        out = pq_encode(out, pq_cents, pq_dsub, id_col=id_col, vec_col=vec_col)
    if quantize:
        out = quantize_embeddings(out, vec_col=vec_col)
    return out


def cap_per_key(
    df: DataFrame,
    key_cols: list[str],
    cap: int,
    id_col: str = "doc_id",
    seed: str = "cap",
) -> DataFrame:
    """At most ``cap`` rows per key — the anti-domain-dominance pass of
    corpus curation (a handful of boilerplate-heavy domains otherwise
    swamp the training mix). Selection is deterministic: within a key,
    the ``cap`` rows with the smallest md5(seed|id) coin survive, so
    re-runs and engine changes keep the identical subset (same coin
    family as :func:`sample_stratified`; a new ``seed`` draws an
    independent subset). PRECONDITION (shared with the whole coin
    family): ``id_col`` must be unique — it is both the coin input and
    the final tie-break, so duplicate ids within a key produce equal
    (coin, id) sort keys and the surviving subset becomes
    engine/run-dependent for exactly those rows. Deduplicate or add a
    uniquifier first if ids can repeat.

    Scale shape (the skew problem IS the point here — the keys worth
    capping are exactly the hottest ones): a naive global window would
    shuffle the whole corpus and hand each hot key's full row set to one
    sort task. Instead the per-key counts (map-side partial aggregate,
    counts-only shuffle) find the over-cap keys — typically a tiny
    fraction — and that key list broadcasts into two joins: under-cap
    rows pass through with NO data shuffle at all, and only over-cap
    keys' rows enter the per-key ranking window. That window plans with
    a PARTIAL WindowGroupLimit below its exchange (plan-asserted in
    tests/test_oracle_extra.py): each map task forwards at most ``cap``
    rows per key, so the shuffle and the final per-key sort are
    cap-bounded, not data-bounded — a key holding 10% of the corpus
    ships cap×tasks rows, never its full row set. NULL keys are capped
    too (null-safe join keys); groupBy already treats NULL as a group.
    """
    if cap < 1:
        raise ValueError(f"cap_per_key: cap must be >= 1, got {cap}")
    from pyspark.sql import Window as W

    from kafka_workers_spark.cache import pin

    counts = df.groupBy(*key_cols).agg(F.count("*").alias("__n"))
    # keys-only, tiny, consumed by BOTH branch joins — the rule-2a pin
    # (ARCHITECTURE.md §4) so the counts aggregate runs once
    over = pin(
        counts.filter(F.col("__n") > cap).select(
            *[F.col(c).alias(f"__k_{c}") for c in key_cols]
        ),
        "pipeline.cap_per_key.over",
    )
    # null-SAFE key matching: groupBy treats NULL as a real group (messy
    # metadata is exactly where domination hides), but a plain equi-join
    # would never match it — every NULL-key row would silently bypass
    # the cap. eqNullSafe keeps NULL groups cappable.
    cond = None
    for c in key_cols:
        clause = df[c].eqNullSafe(over[f"__k_{c}"])
        cond = clause if cond is None else (cond & clause)
    passthrough = df.join(F.broadcast(over), cond, "left_anti")
    hot = df.join(F.broadcast(over), cond, "left_semi")

    coin = F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string")))
    w = W.partitionBy(*key_cols).orderBy(coin.asc(), F.col(id_col).asc())
    capped = (
        hot.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    return passthrough.unionByName(capped)


def shuffle_corpus(
    docs: DataFrame,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training order: sort by
    md5(seed || id). The standard at-scale trick — a range-partitioned
    sort on a uniform hash IS a uniform permutation, reproducible across
    re-runs and resumable mid-epoch (the order is a pure function of
    (seed, id), no RNG state to lose); a new ``seed`` per epoch gives an
    independent order. One sort shuffle; write the result with
    ``sources.files.write_sized`` and downstream readers stream it in
    shuffled order for free.
    """
    return docs.orderBy(F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))))


def nucleus_select(
    df: DataFrame,
    mass_col: str,
    p: tuple[int, int],
    group_cols: list[str],
    order_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-p (nucleus) mass selection per group: keep the best-ranked
    rows until the kept set's cumulative ``mass_col`` first reaches
    fraction ``p`` of the group total — the budget form of "take the
    top of the quality distribution" (nucleus sampling's cutoff rule,
    Holtzman et al. ICLR 2020, applied to corpus curation: spend p of a
    language's token mass on its best documents). Ranking is
    ``order_col`` DESCENDING (default: the mass itself) with ``id_col``
    as the deterministic tiebreak.

    The keep rule is the EXACT integer predicate ``mass_before · den <
    total · num`` in DECIMAL(38,0) (the :func:`unimax_allocation`
    discipline — mass × mass products pass int64 at web scale): a row
    survives iff the mass ACCUMULATED BEFORE it is still short of the
    target, so the kept set is the minimal rank-prefix whose mass
    reaches ≥ p·total, every group keeps at least its top row, and no
    float ever decides membership. Returns kept rows with audit columns
    ``mass_before`` and ``group_total``.

    Scale shape: one counts shuffle for the totals (map-side partial),
    one window per group for the running sum. The window sorts each
    group in one task — acceptable for strata-sized groups (languages,
    sources); for per-DOMAIN nucleus selection with web-scale hot
    domains, route through :func:`cap_per_key`'s two-path trick first
    so only plausibly-cut groups pay the sort.
    """
    from pyspark.sql import Window as W

    num, den = p
    if not 0 < num <= den:
        raise ValueError(f"p ({p}) must be a rational in (0, 1]")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (a global nucleus is one group)")
    order = F.col(order_col if order_col is not None else mass_col)
    w = (
        W.partitionBy(*group_cols)
        .orderBy(order.desc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    totals = df.groupBy(*group_cols).agg(
        F.sum(mass_col).cast("bigint").alias("group_total")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        df.withColumn(
            "mass_before",
            F.coalesce(F.sum(mass_col).over(w), F.lit(0)).cast("bigint"),
        )
        .join(totals, group_cols)
        .filter(d38(F.col("mass_before")) * d38(F.lit(den)) < d38(F.col("group_total")) * d38(F.lit(num)))
    )


def pack_documents_whole(
    df: DataFrame,
    mass_col: str,
    budget: int,
    group_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """No-straddle sequence packing: each bin holds WHOLE documents
    totalling <= ``budget`` tokens — the padding-based discipline for
    training recipes where documents must not cross sequence boundaries
    (contrast :func:`~kafka_workers_spark.queries.corpus.corpus_sample_pack`'s
    concat-then-chunk, which splits documents). Bin assignment is the
    size-class (harmonic-style) rule, chosen because it is CLOSED FORM:

    - a document of mass ``n`` gets class ``fit = budget DIV n`` (how
      many documents of its class fit per bin);
    - within (group, fit), bin index = ``(row_number − 1) DIV fit``
      over (mass desc, id) order.

    Same-class documents have mass in ``(budget/(fit+1), budget/fit]``,
    so ``fit`` of them sum to <= budget — bins NEVER overflow — and
    every full bin is > budget/2 full, giving the textbook
    2-approximation on bin count versus optimal (first-fit-decreasing
    packs tighter but is inherently sequential — a driver-side loop at
    corpus scale; this rule is one window per (group, class), fully
    parallel, deterministic, and engine-replayable). Documents with
    ``mass > budget`` raise in-plan — chunk them first
    (operators.text.chunk_documents). NULL/zero masses raise too.

    Returns the input keys plus ``fit_class, bin_id, bin_slot`` —
    ``(group_cols, fit_class, bin_id)`` identifies a training sequence.
    """
    if budget <= 0:
        raise ValueError(f"budget ({budget}) must be positive")
    m = F.col(mass_col)
    guarded = (
        F.when((m >= 1) & (m <= budget), m)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pack_documents_whole: {mass_col} must be in [1, "
                        f"{budget}] (chunk oversize documents first), got "
                    ),
                    m.cast("string"),
                )
            ).cast("bigint")
        )
    )
    from pyspark.sql import Window as W

    base = df.select(*group_cols, id_col, guarded.alias("__m")).withColumn(
        "fit_class", F.expr(f"{budget} DIV __m")
    )
    w = W.partitionBy(*group_cols, "fit_class").orderBy(F.desc("__m"), F.asc(id_col))
    ranked = base.withColumn("__rn", F.row_number().over(w) - 1)
    return ranked.select(
        *group_cols,
        id_col,
        F.col("__m").cast("bigint").alias(mass_col),
        F.col("fit_class").cast("bigint").alias("fit_class"),
        F.expr("__rn DIV fit_class").cast("bigint").alias("bin_id"),
        (F.col("__rn") % F.col("fit_class")).cast("bigint").alias("bin_slot"),
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Latest-wins upsert (the SCD-type-1 MERGE a lakehouse runs on
    every ingest): union the current snapshot with an update batch and
    keep, per key, the row with the highest ``version_col`` — updates
    with a newer version replace, older ones are ignored, new keys
    insert. Resolution is ONE ``max(struct(version, payload))``
    partial-aggregatable hash aggregate — no window, no per-key sort,
    no join-back — so the shuffle carries one candidate row per key per
    map partition. Exactly-once re-ingest falls out: replaying the same
    update batch is idempotent (max is).

    Determinism contract: ``(key_cols, version_col)`` must be unique
    across the union — two rows with the same key AND version would
    tie-break on payload bytes (max over the struct's remaining
    fields), which is deterministic but rarely what you mean; give
    re-ingested batches distinct versions. Schemas must match
    (``unionByName``). Returns the merged snapshot with the input
    columns (version included — it is the row's lineage)."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    all_rows = base.unionByName(updates)
    payload = [c for c in all_rows.columns if c not in key_cols]
    if version_col not in payload:
        raise ValueError(f"version_col {version_col!r} must be a non-key column")
    ordered = [version_col] + [c for c in payload if c != version_col]
    best = all_rows.groupBy(*key_cols).agg(
        F.max(F.struct(*ordered)).alias("__best")
    )
    return best.select(
        *key_cols, *[F.col(f"__best.{c}").alias(c) for c in ordered]
    ).select(*all_rows.columns)


def clip_percentiles(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    tiebreak_cols: list[str],
    lo: tuple[int, int] = (1, 100),
    hi: tuple[int, int] = (99, 100),
    out: str | None = None,
) -> DataFrame:
    """Winsorize a column per group at exact discrete percentiles: values
    below the group's p_lo clamp up to it, values above p_hi clamp down
    — the standard heavy-tail tamer before averaging quality scores or
    budgeting by token mass. Percentile bounds use the
    ``agg_percentile_disc`` rank-selection discipline (value at rank
    ``ceil(p·n)``, pure integer rank arithmetic, ``tiebreak_cols``
    making the order total) so both bounds — and therefore every
    clipped value, which is always some ROW's actual value — are
    deterministic and engine-replayable; no interpolation ever
    manufactures a number.

    Returns the input plus ``out`` (default ``{col}_clipped``) and
    boolean ``{out}_was_low`` / ``{out}_was_high`` audit flags. Scale:
    one window per group for the ranks (the exact-oracle form — swap
    approx_percentile in when groups are corpus-sized and exactness is
    not contractual) + one tiny bounds broadcast back.
    """
    num_lo, den_lo = lo
    num_hi, den_hi = hi
    for num, den in (lo, hi):
        if not 0 < num <= den:
            raise ValueError(f"percentile ({num}/{den}) must be in (0, 1]")
    if num_lo * den_hi > num_hi * den_lo:
        raise ValueError(f"lo ({lo}) must not exceed hi ({hi})")
    out = out or f"{col}_clipped"
    from pyspark.sql import Window as W

    w = W.partitionBy(*group_cols).orderBy(col, *tiebreak_cols)
    wall = W.partitionBy(*group_cols)
    ranked = df.select(
        *group_cols,
        F.col(col).alias("__v"),
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(wall).alias("__n"),
    )
    bounds = ranked.groupBy(*group_cols).agg(
        F.min(
            F.when(
                F.col("__rn") == F.expr(f"({num_lo} * __n + {den_lo - 1}) DIV {den_lo}"),
                F.col("__v"),
            )
        ).alias("__lo"),
        F.min(
            F.when(
                F.col("__rn") == F.expr(f"({num_hi} * __n + {den_hi - 1}) DIV {den_hi}"),
                F.col("__v"),
            )
        ).alias("__hi"),
    )
    clipped = F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi"))
    return (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(out, clipped)
        .withColumn(f"{out}_was_low", F.col(col) < F.col("__lo"))
        .withColumn(f"{out}_was_high", F.col(col) > F.col("__hi"))
        .drop("__lo", "__hi")
    )


def scd2_history(
    obs: DataFrame,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Build a slowly-changing-dimension TYPE-2 history from an
    observation stream (Kimball SCD2 — the warehouse twin of
    :func:`merge_upsert`'s type-1 latest-wins): per key, consecutive
    observations with an UNCHANGED payload collapse into one version;
    each surviving change opens a validity interval
    ``[valid_from, valid_to)`` closed by the next change (open version:
    ``valid_to`` NULL). Returns
    ``(key_cols..., payload_cols..., valid_from, valid_to)``.

    Ordering within a key is ``(ts_col, tiebreak_col)`` —
    ``tiebreak_col`` must make that pair unique (the sessionize rule) or
    the collapse is engine-dependent at ties. Payload comparison is
    NULL-safe (a NULL→value transition IS a change).

    Shape at scale: both windows (lag for change detection, lead for
    interval close) share ONE key-partitioned shuffle — the second runs
    on the CHANGE rows only, with identical partitioning, so no second
    exchange; per-key sort is bounded by that key's observation count.
    """
    import functools
    import operator

    from pyspark.sql import Window as W

    if not payload_cols:
        raise ValueError("payload_cols must be non-empty")
    w = W.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    # first observation via row_number, NOT lag(tiebreak).isNull(): a
    # NULL tiebreak value mid-stream would otherwise mark its SUCCESSOR
    # as a change even with an unchanged payload (round-9 self-review)
    first = F.row_number().over(w) == 1
    changed = functools.reduce(
        operator.or_,
        [~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w)) for c in payload_cols],
    )
    changes = obs.withColumn("__chg", first | changed).filter(F.col("__chg"))
    w2 = W.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    return changes.select(
        *key_cols,
        *payload_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def merge_scd2(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Incremental SCD2 merge: fold a new observation batch into an
    existing history table (``base`` has the :func:`scd2_history`
    schema; ``updates`` has ``key_cols + payload_cols + ts_col +
    tiebreak_col``). CLOSED versions pass through untouched — no
    shuffle, no rewrite (at 100 TB the history dwarfs the update batch;
    only current rows and the batch enter the window). Each key's OPEN
    version re-enters change detection as its own earliest observation,
    so an update batch whose first payload matches the open version
    extends it instead of duplicating. Exact: incremental == one-shot
    ``scd2_history`` over the full observation stream (unit-pinned).

    Contract: update timestamps must be ≥ the open version's
    ``valid_from`` per key (late observations would need a history
    rewrite — reject upstream); base open rows sort first at equal ts
    via a ``-1`` tiebreak, so ``tiebreak_col`` values must be ≥ 0."""
    closed = base.filter(F.col("valid_to").isNotNull()).select(
        *key_cols, *payload_cols, "valid_from", "valid_to"
    )
    cur_obs = base.filter(F.col("valid_to").isNull()).select(
        *key_cols,
        *payload_cols,
        F.col("valid_from").alias(ts_col),
        F.lit(-1).alias(tiebreak_col),
    )
    new_obs = updates.select(*key_cols, *payload_cols, ts_col, tiebreak_col)
    hist = scd2_history(
        cur_obs.unionByName(new_obs), key_cols, ts_col, payload_cols, tiebreak_col
    )
    return closed.unionByName(hist)


def sample_pps(
    docs: DataFrame,
    k: int,
    weight_col: str,
    strata_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic systematic PPS sampling (probability proportional
    to size — Madow's systematic selection, the survey-sampling staple
    a corpus curator uses to sample documents proportional to their
    LENGTH instead of uniformly, so the token mass of the sample tracks
    the token mass of the corpus): per stratum, order rows by an
    md5-derived deterministic permutation, take the running weight sum,
    and select every row whose cumulative interval crosses one of the
    ``k`` equal slots — ``(cum·k) DIV total > ((cum − w)·k) DIV total``,
    pure integer arithmetic (exact, engine-replayable, no RNG state; a
    re-run or backfill selects the identical rows, the
    :func:`sample_stratified` reproducibility contract).

    Selects EXACTLY ``k`` rows per stratum unless a single row's weight
    spans multiple slots (w > total/k): such a heavy row is selected
    once and absorbs its extra slots — the standard systematic-PPS
    trade, and the signal to cap pathological documents first. Rows
    with non-positive weight are excluded (zero-length docs cannot be
    drawn proportional to size).

    Shape at scale: one stratum-keyed window (running sum — per-stratum
    sort, bounded like every exact-percentile path) and a broadcast-free
    same-window total; the selection predicate is map-side after the
    window. Weights must keep ``total·k`` inside int64 (chars·k at any
    plausible stratum size)."""
    from pyspark.sql import Window as W

    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    # The weight must be integral: a fractional weight silently cast to
    # long would truncate (0.7 -> 0 -> row excluded entirely), violating
    # the proportional-to-size contract (ADVICE r09). Integer char/token
    # counts are the documented domain.
    wtype = docs.schema[weight_col].dataType
    from pyspark.sql.types import ByteType, DecimalType, IntegerType, LongType, ShortType

    # DecimalType is admitted only up to precision 18: decimal(38,0) holds
    # values beyond int64, and the cast-to-long below would silently WRAP
    # under non-ANSI casts — the same silent-weight-corruption class this
    # check exists to prevent (ADVICE r10). precision<=18 fits int64 by
    # construction (10^18 - 1 < 2^63 - 1).
    ok = isinstance(wtype, (ByteType, ShortType, IntegerType, LongType)) or (
        isinstance(wtype, DecimalType) and wtype.scale == 0 and wtype.precision <= 18
    )
    if not ok:
        raise ValueError(
            f"sample_pps weight column {weight_col!r} must be an integral type "
            f"fitting int64 (got {wtype.simpleString()}); cast explicitly after "
            "rounding (and range-checking) if a wider or fractional weight is "
            "intended"
        )
    strata_cols = list(strata_cols or [])
    coin = F.md5(F.concat(F.lit("pps:"), F.col(id_col).cast("string")))
    w_run = (
        W.partitionBy(*strata_cols)
        .orderBy(coin, id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy(*strata_cols)
    base = docs.filter(F.col(weight_col) > 0).select(
        *strata_cols,
        id_col,
        F.col(weight_col).cast("long").alias("__w"),
    )
    cum = F.sum("__w").over(w_run)
    tot = F.sum("__w").over(w_all)
    staged = base.select(
        *strata_cols,
        id_col,
        F.col("__w").alias(weight_col),
        cum.alias("__cum"),
        tot.alias("__tot"),
    )
    picked = staged.filter(
        F.expr(f"(__cum * {k}) DIV __tot") > F.expr(f"((__cum - {weight_col}) * {k}) DIV __tot")
    )
    return picked.select(*strata_cols, id_col, weight_col)


#: 2^52 — the md5-prefix hash space shared with the KMV sketches
#: (13 hex chars): (h+1)/2^52 is an exact dyadic rational in (0, 1]
_ES_SPACE = 1 << 52


def sample_weighted(
    docs: DataFrame,
    k: int,
    weight_col: str,
    strata_cols: list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "es",
) -> DataFrame:
    """Deterministic weighted random sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006, algorithm A-ES — the one-pass weighted
    reservoir the curation literature reaches for when PPS's systematic
    correlation is unwanted): per stratum, keep the ``k`` rows with the
    largest ``u_i^(1/w_i)``, with ``u_i`` a deterministic md5 coin —
    re-runs and backfills select the identical rows (the
    :func:`sample_stratified` reproducibility contract), yet inclusion
    is a genuine weighted random draw with respect to the salt.

    Cross-engine exactness (the house discipline, in log domain):
    ``u = (h+1)/2^52`` with ``h`` the 13-hex-char md5 prefix — an exact
    dyadic rational in (0, 1] — then the selection key is
    ``floor(10^6·ln u) / w``: the ln is quantized to an exact bigint
    (the idf6 int-ratio-then-ln-then-floor pattern the BM25/TF-IDF
    oracles already hold cross-engine) and the key is ONE IEEE division
    of exact integers, so ordering replays bit-for-bit; ties break on
    ``id_col``. Maximizing ``u^(1/w)`` == maximizing ``ln(u)/w`` (ln is
    monotone, w > 0), so the quantized key preserves A-ES semantics up
    to the 10⁻⁶ quantization.

    Rows with non-positive weight are excluded (cannot be drawn with
    positive probability). Weight-type guard as in :func:`sample_pps`.

    Shape at scale: one scan computes the key map-side (md5 + ln are
    codegen scalar functions); the only shuffle is the per-stratum
    top-k window — same cost class as every exact top-k in the engine.
    Returns ``(strata..., id_col, weight_col, es_key, rank)``."""
    from pyspark.sql import Window as W

    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    wtype = docs.schema[weight_col].dataType
    from pyspark.sql.types import ByteType, DecimalType, IntegerType, LongType, ShortType

    ok = isinstance(wtype, (ByteType, ShortType, IntegerType, LongType)) or (
        isinstance(wtype, DecimalType) and wtype.scale == 0 and wtype.precision <= 18
    )
    if not ok:
        raise ValueError(
            f"sample_weighted weight column {weight_col!r} must be an integral "
            f"type fitting int64 (got {wtype.simpleString()}); cast explicitly "
            "after rounding (and range-checking) if a wider or fractional "
            "weight is intended"
        )
    strata_cols = list(strata_cols or [])
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(float(_ES_SPACE))
    lnq = F.floor(F.lit(1_000_000.0) * F.log(u)).cast("long")
    base = docs.filter(F.col(weight_col) > 0).select(
        *strata_cols,
        id_col,
        F.col(weight_col).cast("long").alias("__w"),
        lnq.alias("__lnq"),
    )
    key = F.col("__lnq").cast("double") / F.col("__w").cast("double")
    w_rank = W.partitionBy(*strata_cols).orderBy(F.desc("__key"), F.asc(id_col))
    return (
        base.withColumn("__key", key)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            *strata_cols,
            id_col,
            F.col("__w").alias(weight_col),
            F.col("__key").alias("es_key"),
            "rank",
        )
    )


def sample_allocation(
    docs: DataFrame,
    total_n: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-budget stratified sampling with Hamilton (largest-remainder)
    allocation: draw EXACTLY ``total_n`` rows overall, split across
    strata proportionally to their sizes — quota_h = ⌊n·N_h/N⌋ plus one
    extra for the ⌈·⌉-side strata with the largest remainders (ties by
    stratum ascending), the apportionment rule that makes the quotas sum
    to ``total_n`` exactly. Complements :func:`sample_stratified` (RATE
    per stratum, no global budget) and :func:`sample_pps` (weight-
    proportional): this is the "give me exactly 10M documents with the
    corpus's language mix" draw a mixture builder runs per epoch.

    Within a stratum rows are taken in md5-key order (the
    :func:`~kafka_workers_spark.functions.determinism.sample_coin`
    permutation family — first 15 hex chars of md5(id) as int64, ties by
    id): deterministic, RNG-state-free, so re-runs and backfills draw
    identical rows. All allocation arithmetic is int64 (``total_n · N_h``
    must fit — n·N ≲ 9·10¹⁸ holds for any realistic budget); quotas never
    exceed N_h when ``total_n ≤ N`` (⌊n·N_h/N⌋ < N_h for n < N, and at
    n = N every remainder is zero), and a ``total_n > N`` ask raises
    in-plan rather than silently under-delivering.

    Returns the sampled rows as ``(strata_col, id_col)``.

    Shape at scale: one tiny strata-counts aggregate (|strata| rows —
    the allocation windows run on THAT frame, never the data), one
    stratum-keyed rank window over the data (the exact-order-statistic
    cost, same class as sample_pps), and a broadcast quota join with a
    map-side filter.
    """
    if total_n < 0:
        raise ValueError(f"total_n ({total_n}) must be >= 0")
    from pyspark.sql import Window as W

    counts = docs.groupBy(strata_col).agg(F.count("*").cast("bigint").alias("__nh"))
    tot = counts.agg(F.sum("__nh").cast("bigint").alias("__n"))
    alloc = counts.crossJoin(F.broadcast(tot)).select(
        strata_col,
        "__nh",
        "__n",
        F.expr(f"({total_n} * __nh) DIV __n").alias("__base"),
        F.expr(f"({total_n} * __nh) % __n").alias("__rem"),
    )
    leftover = alloc.agg(
        (F.lit(total_n) - F.sum("__base")).cast("bigint").alias("__l")
    )
    # |strata|-row frame: the global remainder-rank window is fine HERE.
    # The over-budget guard rides __q ITSELF (ADVICE r12 #4): the earlier
    # side-branch-only form could be pruned — a downstream filter on
    # strata/id constant-folds the poison branch's NULL literals to a
    # false predicate and PropagateEmptyRelation then removes the branch
    # WITHOUT evaluating assert_true, silently under-delivering. Anchored
    # on the quota values (which every surviving output row needs), the
    # guard evaluates whenever ANY stratum flows, prune-proof.
    w_rem = W.orderBy(F.col("__rem").desc(), F.col(strata_col).asc())
    q_guard = F.assert_true(
        F.lit(total_n) <= F.col("__n"),
        F.lit(f"sample_allocation: total_n ({total_n}) exceeds the row count"),
    )
    quota = (
        alloc.crossJoin(F.broadcast(leftover))
        .withColumn("__rk", F.row_number().over(w_rem))
        .select(
            strata_col,
            F.when(
                q_guard.isNull(),
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__l"), 1).otherwise(0),
            )
            .cast("bigint")
            .alias("__q"),
        )
    )
    # Second anchor, for the EMPTY-input case (quota has zero rows then,
    # so the q_guard never evaluates): a one-row branch off the global
    # count aggregate. Its output columns reference __g (not bare NULL
    # literals) so a pushed-down predicate over them is NOT foldable and
    # the branch survives optimization long enough to evaluate the
    # assert (review r12 + ADVICE r12 #4). assert_true is NULL when the
    # budget fits, so the branch filters to zero rows at runtime.
    guard = F.assert_true(
        F.lit(total_n) <= F.coalesce(F.col("__n"), F.lit(0)),
        F.lit(f"sample_allocation: total_n ({total_n}) exceeds the row count"),
    )
    poison = (
        tot.select(guard.alias("__g"))
        .filter(F.col("__g").isNotNull())
        .select(
            # cast(__g) not lit(NULL): an attribute reference is never
            # constant-folded, so a pushed-down predicate over these
            # columns stays non-foldable and cannot empty the branch
            # before the assert evaluates (__g is NULL-typed at runtime,
            # so the cast yields the same NULLs the literals did)
            F.col("__g").cast(docs.schema[strata_col].dataType).alias(strata_col),
            F.col("__g").cast(docs.schema[id_col].dataType).alias(id_col),
        )
    )
    hkey = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    )
    w_rank = W.partitionBy(strata_col).orderBy(hkey.asc(), F.col(id_col).asc())
    picked = (
        docs.select(strata_col, id_col)
        .withColumn("__rn", F.row_number().over(w_rank))
        .join(F.broadcast(quota), strata_col)
        .filter(F.col("__rn") <= F.col("__q"))
        .select(strata_col, id_col)
    )
    return picked.unionByName(poison)
