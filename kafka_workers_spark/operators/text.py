"""Text-analysis building blocks for large-scale training-data pipelines.

The reference treats payloads as opaque bytes and leaves all content
processing to user code inside ``WorkerTask.process()``
(/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/task/WorkerTask.java:50).
This module provides the content operators a 100 TB text pipeline needs as
*native Spark column expressions* — everything stays inside whole-stage
codegen (no Python UDFs in the hot path), so throughput scales with
executors and the plans survive predicate pushdown/column pruning.

Design rule for cross-engine determinism (DuckDB oracles): only integer
arithmetic, lexicographic string comparison, md5, and fixed-operand-order
double expressions — all bit-identical across engines.
"""

from __future__ import annotations

import functools
import heapq
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from kafka_workers_spark import store

# Tiny public stopword lexicons (top function words per language) — the
# standard lexicon-overlap language-ID heuristic. Extend per deployment.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
}

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation —
# the coarse split every byte-pair tokenizer applies before merges.
BPE_SPLIT_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# CJK unified ideographs — presence implies Chinese/Japanese text, which
# whitespace tokenization cannot segment.
CJK_RE_SPARK = "[\\u4e00-\\u9fff]"
CJK_RE_DUCK = "[\\x{4e00}-\\x{9fff}]"


def tokens(text: Column) -> Column:
    """Whitespace tokens. Single-space split: deterministic and identical to
    DuckDB ``string_split(text, ' ')`` (regex \\s+ split differs on empty
    leading fields between engines)."""
    return F.split(text, " ")


def normalized(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, strip non-alphanumerics,
    collapse runs of spaces."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def sql_normalized(expr: str) -> str:
    """DuckDB rendering of :func:`normalized` (same regexes, 'g' flag)."""
    return (
        "trim(regexp_replace(regexp_replace(lower(" + expr + "), '[^a-z0-9 ]', '', 'g'),"
        " ' +', ' ', 'g'))"
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles as space-joined strings; NULL when fewer than n
    tokens. Pure array expression — no shuffle, no Python.

    IMPORTANT: pass a *materialized* token column (post-exchange), not the
    raw ``split(text)`` tree — each ``element_at`` inside the transform
    lambda re-evaluates its argument, so an inlined split would re-tokenize
    the document once per shingle element (O(shingles × n) splits). See
    :func:`tokenize_stage`.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    make = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.when(F.size(toks) >= n, F.transform(idx, make))


def sql_word_shingles(toks_expr: str, n: int = 3) -> str:
    """DuckDB rendering of :func:`word_shingles` (1-based slices)."""
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN "
        f"[array_to_string(({toks_expr})[i:i+{n - 1}], ' ') "
        f"FOR i IN generate_series(1, len({toks_expr}) - {n - 1})] END"
    )


def stopword_hits(toks: Column, lexicon: tuple[str, ...]) -> Column:
    """Number of tokens (with multiplicity) found in `lexicon`."""
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t))).cast("bigint")


def sql_stopword_hits(toks_expr: str, lexicon: tuple[str, ...]) -> str:
    lex = "[" + ", ".join(f"'{w}'" for w in lexicon) + "]"
    return f"CAST(len(list_filter({toks_expr}, t -> list_contains({lex}, t))) AS BIGINT)"


def tokenize_stage(df, text_col: str = "text", extra: dict[str, Column] | None = None):
    """Materialize a ``toks`` column (plus optional cheap per-row columns)
    behind an exchange.

    Two reasons (both matter at 100 TB):
    1. Downstream array lambdas (shingling, hashing) would otherwise inline
       and re-evaluate the split per element access — a hidden quadratic.
    2. The shuffle load-balances documents across executors before the
       CPU-heavy per-document work, decoupling hash parallelism from the
       input file layout.
    """
    from kafka_workers_spark.operators.dedup import barrier

    cols = [df["*"], tokens(F.col(text_col)).alias("toks")]
    for name, c in (extra or {}).items():
        cols.append(c.alias(name))
    return barrier(df.select(*cols))


def shingle_stage(df, n: int = 3, toks_col: str = "toks", out: str = "shingles", distinct: bool = False):
    """Materialize shingles (optionally deduplicated) behind an exchange —
    the stage before explode-based signature aggregation."""
    from kafka_workers_spark.operators.dedup import barrier

    sh = word_shingles(F.col(toks_col), n)
    if distinct:
        sh = F.array_distinct(sh)
    return barrier(df.withColumn(out, sh))


def cjk_char_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(CJK_RE_SPARK), 0)).cast("bigint")


def sql_cjk_char_count(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{CJK_RE_DUCK}')) AS BIGINT)"


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization pass of an LLM training-data pipeline (long documents
    become training-sequence-sized pieces; the overlap preserves context
    across boundaries).

    Output: one row per chunk with ``chunk_id`` (0-based, in document
    order), ``chunk_text`` and ``chunk_n_tokens``; all other input columns
    ride along. Shape: sequence → explode (codegen generator) → slice +
    array_join (collection expressions, no lambda HOFs) — a single scan
    with per-row fan-out ~n_tokens/step, no shuffle. The token column is
    materialized first so the explode does not re-split per chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    step = chunk_tokens - overlap
    # drop null-text docs explicitly: greatest(NULL, 0) = 0, so a NULL
    # token array would otherwise still generate start 0 and emit one
    # chunk row with NULL chunk_text
    staged = tokenize_stage(df, text_col).filter(F.col("toks").isNotNull())
    n = F.size(F.col("toks"))
    # A start contributes NEW tokens only while start < n - overlap (the
    # chunk one step earlier already covers through start + overlap - 1);
    # capping the sequence there stops the tail from emitting a chunk that
    # is a pure suffix of its predecessor — duplicated training text from
    # the very pipeline whose job is dedup. start 0 always exists (split
    # of any non-null text yields at least one element).
    starts = F.sequence(F.lit(0), F.greatest(n - 1 - overlap, F.lit(0)), F.lit(step))
    piece = F.slice(F.col("toks"), F.col("__start") + 1, chunk_tokens)
    return (
        staged.withColumn("__start", F.explode(starts))
        .select(
            *df.columns,
            (F.col("__start") / step).cast("int").alias("chunk_id"),
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).cast("bigint").alias("chunk_n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition + heuristic-quality rule set (the Gopher/C4-style filters of a
# production corpus pipeline; Rae et al. 2021 "Scaling Language Models:
# ... Gopher" §A1.1, Raffel et al. 2020 C4 heuristics — public papers)
# ---------------------------------------------------------------------------


def duplicate_line_fraction(text: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line — the
    strongest single boilerplate signal (nav bars, cookie banners).
    Pure array expression, no shuffle."""
    lines = F.split(text, "\n")
    n = F.size(lines)
    return (
        (n - F.size(F.array_distinct(lines))).cast("double")
        / F.greatest(n, F.lit(1)).cast("double")
    )


def duplicate_ngram_metrics(
    df, id_cols: list[str], toks_col: str = "toks", n: int = 2
) -> "DataFrame":
    """Per-document duplicate-n-gram statistics: total n-grams, distinct
    n-grams, and the count of the single most frequent n-gram.

    Needs a per-gram frequency, so it is an explode → two-level aggregate
    (codegen'd, map-side partials; shuffle carries 16-byte gram digests
    per doc) rather than an array lambda — an O(distinct × total)
    interpreted expression per row would be the slow path. Derive
    ``dup_ngram_frac = 1 - n_distinct/n_total`` and
    ``top_ngram_frac = top_count/n_total`` (Gopher thresholds: reject
    dup-2-gram > 0.2, top-2-gram > 0.2)."""
    grams = df.select(
        *id_cols, F.explode_outer(word_shingles(F.col(toks_col), n)).alias("__g")
    ).select(*id_cols, F.md5("__g").alias("__gh"))
    per_gram = grams.groupBy(*id_cols, "__gh").agg(F.count("*").alias("__c"))
    # null-safe aggregates: a doc with fewer than n tokens contributes one
    # all-NULL row via explode_outer, which must read as ZERO n-grams (not
    # one maximally-repetitive gram — deriving top_ngram_frac = 1.0 would
    # reject empty docs as boilerplate)
    real = F.col("__gh").isNotNull()
    return per_gram.groupBy(*id_cols).agg(
        F.coalesce(F.sum(F.when(real, F.col("__c"))), F.lit(0)).cast("bigint").alias("n_ngrams"),
        F.count(F.col("__gh")).cast("bigint").alias("n_distinct_ngrams"),
        F.coalesce(F.max(F.when(real, F.col("__c"))), F.lit(0)).cast("bigint").alias("top_ngram_count"),
    )


def gopher_rules(
    text: Column, toks: Column, min_word_count: int = 50
) -> dict[str, Column]:
    """The single-scan subset of the Gopher quality rules as named boolean
    columns (True = passes). Combine with :func:`duplicate_ngram_metrics`
    for the repetition thresholds.

    All rules reference the same ``toks``/``split(text)`` subtrees inside
    one Filter/Project operator, where whole-stage codegen's subexpression
    elimination evaluates each distinct subtree once per row — no staging
    exchange needed for a filter-only pass."""
    n = F.size(toks)
    word_lens = F.transform(toks, lambda t: F.length(t))
    mean_word_len = (
        F.aggregate(word_lens, F.lit(0), lambda a, v: a + v).cast("double")
        / F.greatest(n, F.lit(1))
    )
    lines = F.split(text, "\n")
    bullet_like = F.size(
        F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* "))
    )
    ellipsis_like = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    hash_or_ellipsis = F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("...")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stop_presence = stopword_hits(toks, STOPWORDS["en"])
    return {
        "rule_word_count": (n >= min_word_count) & (n <= 100_000),
        "rule_mean_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "rule_symbol_ratio": hash_or_ellipsis.cast("double") / F.greatest(n, F.lit(1)) <= 0.1,
        "rule_bullet_lines": bullet_like.cast("double") / n_lines <= 0.9,
        "rule_ellipsis_lines": ellipsis_like.cast("double") / n_lines <= 0.3,
        "rule_alpha_words": alpha_words.cast("double") / F.greatest(n, F.lit(1)) >= 0.8,
        "rule_stopword_presence": stop_presence >= 2,
        "rule_dup_lines": duplicate_line_fraction(text) <= 0.3,
    }


def gopher_filter(
    df,
    text_col: str = "text",
    min_word_count: int = 50,
    rules: tuple[str, ...] | None = None,
) -> "DataFrame":
    """Apply the single-scan Gopher rules as one conjunctive filter.

    ``rules`` selects a subset by name (default: all). The word-count
    lower bound is configurable because the canonical 50 is tuned for web
    pages; pass the deployment's own floor for short-form corpora."""
    toks = tokens(F.col(text_col))
    rs = gopher_rules(F.col(text_col), toks, min_word_count=min_word_count)
    selected = rules if rules is not None else tuple(rs)
    unknown = set(selected) - set(rs)
    if unknown:
        raise ValueError(f"unknown gopher rules: {sorted(unknown)}")
    cond = F.lit(True)
    for name in selected:
        cond = cond & rs[name]
    return df.filter(cond)


def winnowing_fingerprints(
    shingles: Column, window: int = 4, prefix_len: int = 16
) -> Column:
    """Winnowing fingerprint set (Schleimer, Wilkerson & Aiken, SIGMOD'03
    "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
    k-gram, then keep the minimum hash of each ``window`` consecutive
    hashes. Guarantees: any shared substring of length k + window - 1
    contributes at least one common fingerprint (the detection guarantee),
    while storing only ~2/(window+1) of the hashes — the standard
    position-robust fingerprint for partial-overlap detection (quotes,
    boilerplate spans) where whole-document MinHash dilutes.

    Pure array expressions over a *materialized* shingle column
    (shingle_stage): per row O(n_shingles × window) comparisons inside one
    codegen stage, no shuffle. Compare corpora by exploding the result and
    equi-joining on (fingerprint) — a blocking join like the LSH path.
    Hashes are truncated md5 (``prefix_len`` hex chars), engine-portable.
    """
    hashes = F.transform(shingles, lambda s: F.substring(F.md5(s), 1, prefix_len))
    n = F.size(hashes)
    idx = F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1)))
    mins = F.transform(idx, lambda i: F.array_min(F.slice(hashes, i, window)))
    return F.when(n >= 1, F.array_distinct(mins))


# ---------------------------------------------------------------------------
# Global span-level dedup (C4-style) and PII redaction — the two remaining
# standard stages of a production text-curation pipeline (Raffel et al. 2020
# C4 §2.2 deduplicates repeated spans ACROSS documents, not just whole docs)
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    scope: str = "corpus",
):
    """Paragraph-level dedup: any paragraph that appears in more than
    one place keeps only its first occurrence (lowest (doc, position));
    documents are reassembled with surviving paragraphs in their
    original order. ``scope="corpus"`` (default) dedups across the
    ENTIRE corpus — whole-document dedup misses this class entirely
    (boilerplate headers/footers/license blocks repeated across distinct
    pages), which is why C4 dedups at span granularity.
    ``scope="document"`` dedups only WITHIN each document (nav menus and
    sidebars repeated on one page) — its first-occurrence aggregate is
    keyed by (doc, digest), and legitimately common paragraphs survive
    once per document rather than once globally; run it before the
    corpus pass when both are wanted.

    Shape: split → posexplode (codegen generator) → the first-occurrence
    decision is a ``min(struct(id, pos))`` AGGREGATE over a SLIM
    (digest, id, pos) projection, never a corpus-wide window (rule 4 in
    ARCHITECTURE.md §4) — crucial because repeated boilerplate is
    exactly where digest keys are SKEWED: a million-occurrence
    disclaimer contributes one partial-min row per map partition, so no
    task ever collects a hot digest's full (id, pos) set the way a
    ``row_number()`` window would. Non-meaningful paragraphs (shorter
    than ``min_chars`` after trim — "", bullets, separators) never
    enter the aggregate at all: they are unconditionally kept, so
    routing them through the digest grouping would only manufacture the
    hottest keys of all (``md5("")``). Keep-decisions join back on
    (id, pos) — uniformly distributed — and the reassembly aggregate is
    keyed by ``id_col``.

    Returns ``id_col, {text_col} (reassembled), n_paragraphs,
    n_dropped``; documents whose every paragraph was dropped keep an
    empty string (filter on ``n_paragraphs > n_dropped`` to drop them).
    """
    if scope not in ("corpus", "document"):
        raise ValueError(f"dedup_paragraphs: unknown scope {scope!r}")
    exploded = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para")
    ).withColumn("__meaningful", F.length(F.trim(F.col("__para"))) >= min_chars)
    slim = exploded.select(
        id_col, "__pos", "__meaningful", F.md5(F.col("__para")).alias("__digest")
    )
    part = ["__digest"] if scope == "corpus" else [id_col, "__digest"]
    # min(struct) orders by (id, pos) — identical to the occurrence rank
    # a window's orderBy(id, pos)/row_number()==1 would pick, but fully
    # partial-aggregatable (skew-safe: map-side combine caps any digest's
    # reduce-side fan-in at one row per upstream partition)
    firsts = (
        slim.filter(F.col("__meaningful"))
        .groupBy(*part)
        .agg(F.min(F.struct(id_col, "__pos")).alias("__first"))
        .select(
            F.col("__first").getField(id_col).alias(id_col),
            F.col("__first").getField("__pos").alias("__pos"),
            F.lit(True).alias("__first_occ"),
        )
    )
    ranked = exploded.join(firsts, [id_col, "__pos"], "left").withColumn(
        "__keep", (~F.col("__meaningful")) | F.coalesce("__first_occ", F.lit(False))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text_col),
            F.count("*").alias("n_paragraphs"),
            F.sum((~F.col("__keep")).cast("bigint")).alias("n_dropped"),
        )
    )


def dedup_substrings(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    prefix_len: int = 16,
    scope: str = "corpus",
):
    """Exact duplicated-substring dedup, token-aligned (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 §4.1 ExactSubstr): any run of ``k`` or more
    whitespace tokens that occurs more than once in the corpus survives
    only at its first occurrence (lowest (doc, position) of each
    duplicated window); every other copy is cut out of its document and
    the surrounding text reassembled. :func:`dedup_paragraphs` (C4-style)
    only catches spans that are WHOLE paragraphs — this catches
    duplicated runs anywhere: quoted passages, templated sentences,
    licence text pasted mid-paragraph. ``k=50`` is the paper's operating
    point for web text; lower it for short-form corpora.

    The paper's suffix-array formulation is inherently sequential; the
    Spark-scalable equivalent used here: a token run of length >= k
    repeats iff every k-token window inside it repeats, so marking all
    duplicated k-windows and dropping the token positions they cover
    removes exactly the union of maximal duplicated runs of length >= k
    (token-aligned, where the paper is byte-aligned). Windows are hashed
    (truncated md5, ``prefix_len`` hex chars = 4*prefix_len bits,
    engine-portable), so only (id, pos, digest) rows ever shuffle —
    never document payloads.

    Shape, stage by stage (the dedup_paragraphs skew discipline
    throughout):
    1. split -> materialized token arrays behind an exchange
       (:func:`barrier` — load-balances documents before the per-row
       hashing and pins the computed arrays against CollapseProject
       re-inlining).
    2. k-window hashes via :func:`word_shingles` + md5, posexplode to a
       SLIM (id, pos, hash) projection.
    3. First-occurrence decision = ``min(struct(id, pos))`` + count
       AGGREGATE keyed by hash — fully partial-aggregatable, so a
       million-occurrence boilerplate window contributes one partial row
       per map partition (never a corpus-wide window function).
    4. Keep-verdicts join back occurrence rows to the count>1 hashes —
       digests-only equi-join, AQE splits any hot hash.
    5. Dropped window starts aggregate per document and merge into
       sorted DISJOINT [start, end) intervals in-plan (one array fold);
       a single indexed array filter against the intervals rebuilds the
       text — O(tokens × intervals) per row, where intervals is the
       number of maximal duplicated runs (small), NOT the number of
       covered positions (a half-covered 100k-token document would make
       a per-position membership test quadratic). No further shuffle.

    ``scope="corpus"`` (default) dedups across the ENTIRE corpus;
    ``scope="document"`` keys the first-occurrence aggregate by
    (doc, hash) instead, cutting only runs repeated WITHIN one document
    (keyword stuffing, copy-pasted sections) while runs legitimately
    shared across documents survive once per document — the same
    scope split as :func:`dedup_paragraphs`, and like there the
    document pass composes before a corpus pass when both are wanted.

    One honest semantic edge: the first-occurrence guarantee is
    PER-WINDOW, so SELF-OVERLAPPING (periodic) duplicated runs collapse
    harder than one-copy-survives. In ``"a a a a a"`` repeated twice
    with k=3, every window shares one hash; the windows at positions
    1..2 of the FIRST copy are themselves non-first occurrences and
    their coverage eats into it, leaving only the tokens before the
    second window start (here one token) — and the other copy nothing.
    What always holds: only tokens inside some duplicated k-window are
    ever removed, and a duplicated run with no self-overlap keeps its
    first copy intact. (Suffix-array ExactSubstr implementations make
    the same collapse on periodic strings, where "copies" overlap.)

    Returns ``id_col, {text_col} (reassembled), n_tokens, n_removed``.
    Documents with fewer than k tokens pass through untouched (their
    window array is NULL; posexplode of NULL emits nothing). The
    single-space split round-trips exactly (split + join with the same
    delimiter preserves empty fields), so untouched documents are
    byte-identical to their input.

    Reference parity: the reference pipeline leaves content dedup to
    user task code (WorkerTask.java:50); this is the standard
    training-corpus stage that code would implement.
    """
    if scope not in ("corpus", "document"):
        raise ValueError(f"dedup_substrings: unknown scope {scope!r}")
    if k < 2:
        # k=0/1 would hash every position (k<=0 degenerately hashes the
        # empty window) and silently wipe virtually the whole corpus;
        # "disabled" is expressed by not calling the operator
        raise ValueError(f"dedup_substrings: k must be >= 2, got {k}")
    from kafka_workers_spark.operators.dedup import barrier

    staged = barrier(
        docs.select(id_col, F.split(F.col(text_col), " ").alias("__toks"))
    )
    win_hashes = F.transform(
        word_shingles(F.col("__toks"), k),
        lambda s: F.substring(F.md5(s), 1, prefix_len),
    )
    occ = staged.select(
        id_col, F.posexplode(win_hashes).alias("__pos", "__h")
    )
    keys = ["__h"] if scope == "corpus" else [id_col, "__h"]
    dups = (
        occ.groupBy(*keys)
        .agg(
            F.count("*").alias("__cnt"),
            F.min(F.struct(id_col, "__pos")).alias("__first"),
        )
        .filter(F.col("__cnt") > 1)
        .select(
            *keys,
            F.col("__first").getField(id_col).alias("__fid"),
            F.col("__first").getField("__pos").alias("__fpos"),
        )
    )
    drops = (
        occ.join(dups, keys)
        .filter(
            ~((F.col(id_col) == F.col("__fid")) & (F.col("__pos") == F.col("__fpos")))
        )
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__wins"))
    )
    # merge dropped window starts into sorted disjoint [s, e) intervals:
    # one fold over the sorted starts, extending the last interval while
    # the next window overlaps it (w <= last.e; windows cover k tokens)
    sorted_wins = F.array_sort("__wins")
    first_w = F.element_at(sorted_wins, 1)
    init = F.array(F.struct(first_w.alias("s"), (first_w + k).alias("e")))
    rest = F.slice(sorted_wins, 2, F.greatest(F.size(sorted_wins) - 1, F.lit(0)))

    def _merge(acc, w):
        last = F.element_at(acc, -1)
        return F.when(
            w <= last["e"],
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last["s"].alias("s"),
                        F.greatest(last["e"], w + k).alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(F.struct(w.alias("s"), (w + k).alias("e")))))

    intervals = F.aggregate(rest, init, _merge)
    joined = staged.join(drops, id_col, "left").withColumn(
        "__iv", F.when(F.col("__wins").isNotNull(), intervals)
    )
    kept = F.when(F.col("__iv").isNull(), F.col("__toks")).otherwise(
        F.filter(
            F.col("__toks"),
            lambda t, i: ~F.exists(
                F.col("__iv"), lambda v: (i >= v["s"]) & (i < v["e"])
            ),
        )
    )
    n_removed = F.aggregate(
        "__iv", F.lit(0), lambda a, v: a + (v["e"] - v["s"])
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias(text_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.coalesce(n_removed, F.lit(0)).cast("bigint").alias("n_removed"),
    )


#: (pattern, replacement) redaction rules — conservative, precision-first
#: (a training pipeline prefers leaving an ambiguous token over mangling
#: prose); extend per deployment policy.
PII_RULES: tuple[tuple[str, str], ...] = (
    # order IS the contract: the phone rule's separator class ('.', ' ',
    # '-') would otherwise eat email digits, IPv4 octets, and card runs —
    # the more specific shapes run first
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4
    (r"(?<![\w.])(?:\d{1,3}\.){3}\d{1,3}(?![\w.])", "<IP>"),
    # 13-19 digit runs with optional spaces/dashes (card-shaped)
    (r"(?<![\w.])(?:\d[ \-]?){12,18}\d(?![\w.])", "<CARD>"),
    # international-ish phone numbers: 7+ digits with optional +, separators
    (r"(?<![\w.])\+?\d[\d\-\s().]{5,}\d(?![\w.])", "<PHONE>"),
)


def redact_pii(
    docs,
    text_col: str = "text",
    rules: tuple[tuple[str, str], ...] = PII_RULES,
    count_col: str | None = None,
):
    """Regex PII redaction (emails, phone numbers, IPv4, card-shaped digit
    runs) as chained ``regexp_replace`` — single scan, whole-stage
    codegen, no Python. Rule order matters and is part of the contract
    (specific shapes — email, IP, card — run before the greedy phone
    rule). With ``count_col``, also emits how many rule hits the
    document had BEFORE redaction — rank-and-audit material (documents
    with hundreds of hits are usually dumps, not prose, and belong in
    quality filtering, not redaction).
    """
    redacted = F.col(text_col)
    for pattern, replacement in rules:
        redacted = F.regexp_replace(redacted, pattern, replacement)
    if count_col:
        # hit counts come from the ORIGINAL text (the count column is added
        # before the text column is replaced, so F.col(text_col) here still
        # reads the input)
        hits = F.lit(0).cast("bigint")
        for pattern, _ in rules:
            hits = hits + F.coalesce(
                F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))),
                F.lit(0),
            ).cast("bigint")
        docs = docs.withColumn(count_col, hits)
    return docs.withColumn(text_col, redacted)


def term_frequencies(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-(document, term) counts over the engine's canonical text
    tokenization — normalize, whitespace-split, drop empty tokens. This
    is THE cross-engine parity surface every text oracle rides
    (``string_split(sql_normalized(text), ' ')`` with a length filter on
    the SQL side), defined once so the TF-IDF and BM25 families can
    never tokenize differently. Returns ``(id_col, term, __tf)``."""
    base = docs.select(id_col, normalized(F.col(text_col)).alias("__t"))
    toked = base.select(
        id_col, F.explode(tokens(F.col("__t"))).alias("term")
    ).filter(F.length("term") > 0)
    return toked.groupBy(id_col, "term").agg(F.count("*").alias("__tf"))


def tfidf_weights(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_fraction: float = 0.5,
    n_docs: int | None = None,
):
    """Long-format fixed-point TF-IDF vectors — ``(id_col, term, w6)``
    with integer weights ``tf × floor(1e6 · ln((N+1)/(df+1)) + 1e6)``
    (smoothed idf, 1e6-scaled like the embedding fixed-point family, so
    downstream dots/norms are EXACT integer arithmetic). One honest
    caveat, unlike the pure-integer families elsewhere: ``ln`` is a libm
    call, and engines can differ in the last ulp — the floor flips only
    when 1e6·ln(x) lands within ~1 ulp of an integer (≈1e-10 per
    distinct df value), so the quantized weights are deterministic in
    practice but not unconditionally (see queries/corpus.py:129 for why
    the registered vocab query avoids ln entirely).

    ``max_df_fraction`` drops terms present in more than that fraction
    of documents — the stopword cut, and at scale the COST cut: the
    sparse-dot join below is the inverted index (one posting list per
    term), whose join cost is Σ posting², dominated by exactly the
    near-universal terms this prunes. ``min_df`` prunes hapax noise.

    Tokens are the engine's whitespace tokens over :func:`normalized`
    text (deterministic, engine-portable). N is the total document
    count. Pass ``n_docs`` when you have it (catalog stats, a prior
    pin) — it folds in as a literal and the build stays job-free with
    the empty-keep check raised eagerly as ``ValueError``. Without it,
    N is derived IN-PLAN as ``count(distinct id)`` over the same tf
    aggregate the weights already need (a one-row broadcast join —
    ReusedExchange, never a second corpus scan, and NO eager action at
    operator-construction time); the empty-keep guard then fires at
    first execution via ``raise_error`` instead of at build. The two
    Ns differ only when token-LESS documents exist: derived N counts
    documents that produced at least one token (the only ones idf can
    see), so pass ``n_docs`` explicitly if the denominator must include
    empty documents.
    """
    tf = term_frequencies(docs, id_col=id_col, text_col=text_col)
    df_t = tf.groupBy("term").agg(F.count("*").alias("__df"))
    if n_docs is not None:
        if int(max_df_fraction * n_docs) < min_df:
            raise ValueError(
                f"tfidf_weights: max_df_fraction×N ({max_df_fraction}×{n_docs}) < "
                f"min_df ({min_df}) keeps NO terms — every query would silently "
                "return empty; widen the df window or grow the corpus"
            )
        n_col = F.lit(int(n_docs)).cast("bigint")
    else:
        n_row = tf.groupBy().agg(F.count_distinct(F.col(id_col)).alias("__n"))
        # the build-time ValueError's lazy twin: same message, raised by
        # the first action that touches the weights
        n_row = n_row.select(
            F.when(
                F.floor(F.lit(float(max_df_fraction)) * F.col("__n")) >= F.lit(min_df),
                F.col("__n"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"tfidf_weights: max_df_fraction×N ({max_df_fraction}×"),
                        F.col("__n").cast("string"),
                        F.lit(
                            f") < min_df ({min_df}) keeps NO terms — every query "
                            "would silently return empty; widen the df window or "
                            "grow the corpus"
                        ),
                    )
                ).cast("bigint")
            )
            .alias("__n")
        )
        df_t = df_t.crossJoin(F.broadcast(n_row))
        n_col = F.col("__n")
    max_df = F.floor(F.lit(float(max_df_fraction)) * n_col)
    kept = df_t.filter((F.col("__df") >= min_df) & (F.col("__df") <= max_df))
    idf6 = F.floor(
        F.lit(1_000_000.0)
        * F.log((n_col + 1).cast("double") / (F.col("__df") + 1))
        + F.lit(1_000_000.0)
    ).cast("bigint")
    return tf.join(kept.select("term", idf6.alias("__idf6")), "term").select(
        id_col, "term", (F.col("__tf") * F.col("__idf6")).alias("w6")
    )


def tfidf_topk(
    docs,
    query_ids,
    top_k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_fraction: float = 0.5,
    n_docs: int | None = None,
):
    """Sparse TF-IDF cosine top-k over raw text — IR-style similarity
    search with NO embedding model, the text twin of
    operators.similarity's dense ANN: query docs broadcast in long
    format, the dot join touches only SHARED terms (the inverted-index
    shape — a term's posting list meets the query's terms via one
    equi-join, cost Σ posting² over surviving terms, bounded by
    ``max_df_fraction``), exact integer dots, one window shuffle for
    the per-query top-k. Returns (query_id, neighbor_id, rank, cosine).
    ``query_ids`` is a Python list or a one-column DataFrame of ids
    (semi-joined in — the at-scale form).
    """
    from pyspark.sql import Window as W

    w = tfidf_weights(
        docs, id_col=id_col, text_col=text_col,
        min_df=min_df, max_df_fraction=max_df_fraction, n_docs=n_docs,
    )
    from kafka_workers_spark.cache import pin
    from kafka_workers_spark.operators.dedup import barrier

    # the weighted long format feeds norms (twice: query + candidate
    # side), the broadcast query slice AND the dot join — the barrier
    # exchange alone left the chain re-derived for the consumers AQE's
    # one-level runtime reuse cannot reach (nested exchanges never
    # canonicalize equal once one side holds a ReusedExchange), so the
    # tiny (id, term, w6) frame persists too: tf/df aggregation runs
    # once (measured −0.6 s of the 2.4 s row at sf0.1). cache.pin
    # (r16): a later call on this session releases this generation.
    w = pin(barrier(w, id_col), "text.tfidf_topk.weights")
    from kafka_workers_spark.operators.similarity import _query_id_filter

    norms = w.groupBy(id_col).agg(F.sum(F.col("w6") * F.col("w6")).alias("norm6"))
    q = _query_id_filter(w, id_col, query_ids).select(
        F.col(id_col).alias("query_id"), "term", F.col("w6").alias("qw6")
    )
    dots = (
        w.join(F.broadcast(q), "term")
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("qw6") * F.col("w6")).alias("dot6"))
    )
    # only the QUERY rows' norms carry a broadcast hint (a hinted full
    # norms table would ship one row per corpus doc); the candidate-side
    # norm join below stays unhinted for AQE to size
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
            (
                F.col("dot6").cast("double")
                / F.sqrt(F.col("qn").cast("double") * F.col("norm6").cast("double"))
            ).alias("cosine"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def hashed_doc_vectors(
    docs,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_fraction: float = 0.5,
    n_docs: int | None = None,
):
    """Feature-hashed dense document vectors (the hashing trick,
    Weinberger et al. ICML 2009) over :func:`tfidf_weights`: component
    ``j`` sums ``sign(t)·w6(t)`` over the terms whose md5 bucket is
    ``j`` — a signed projection of the sparse TF-IDF space into a FIXED
    ``dim``, so downstream clustering is corpus-size-independent in
    width. All-integer (w6 is fixed-point, sign is ±1 from an md5 bit),
    so the vectors feed :func:`~kafka_workers_spark.operators.
    similarity.kmeans_fixed`'s exact-integer Lloyd loop directly and an
    ANSI-SQL oracle replays them bit for bit.

    Returns LONG format ``(id_col, i, x)`` with zeros MATERIALIZED
    (dense) — integer L2 distances need every component. Shape: the tf
    aggregate → one bucket aggregate (≤ docs·dim rows) → a docs×dim
    grid left-join; nothing corpus-wide shuffles except (doc, bucket)
    partials."""
    if dim <= 0:
        raise ValueError(f"dim ({dim}) must be positive")
    w = tfidf_weights(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_df=min_df,
        max_df_fraction=max_df_fraction,
        n_docs=n_docs,
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("b|"), F.col("term"))), 1, 15), 16, 10)
        .cast("bigint")
        % dim
    )
    sgn = F.lit(1) - F.lit(2) * (
        F.conv(F.substring(F.md5(F.concat(F.lit("s|"), F.col("term"))), 1, 1), 16, 10)
        .cast("bigint")
        % 2
    )
    from kafka_workers_spark.operators.dedup import barrier

    # two consumers (sums + the grid's distinct ids) — pin the exchange
    # so the tf/df/idf chain runs once (rule 3, same as tfidf_topk)
    w = barrier(w, id_col)
    sums = (
        w.select(id_col, bucket.alias("i"), (sgn * F.col("w6")).alias("__x"))
        .groupBy(id_col, "i")
        .agg(F.sum("__x").cast("bigint").alias("__x"))
    )
    grid = (
        w.select(id_col)
        .distinct()
        .select(id_col, F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("i"))
    )
    return grid.join(sums, [id_col, "i"], "left").select(
        id_col, F.col("i").cast("int").alias("i"),
        F.coalesce("__x", F.lit(0)).cast("bigint").alias("x"),
    )


class Bm25Index(NamedTuple):
    """A stored BM25 index: the four frames a search needs, all
    persistable as tables between ingest and query time (the
    index-once / search-many production shape; the near-dup family's
    stored RHP index is the embedding twin). ``tf``/``dl`` are
    posting-list-sized, ``df`` is vocabulary-sized, ``stats`` is ONE
    row (document count + total token count)."""

    tf: DataFrame  # id_col, term, __tf
    dl: DataFrame  # id_col, __dl
    df: DataFrame  # term, __df
    stats: DataFrame  # one row: __n, __s
    id_col: str


def bm25_index(docs, id_col: str = "doc_id", text_col: str = "text") -> Bm25Index:
    """Build the stored index from a corpus — one tokenization pass
    (term_frequencies), three aggregates. Lazy: persist/write the frames
    to make it a real stored index."""
    from kafka_workers_spark.cache import pin
    from kafka_workers_spark.operators.dedup import barrier

    # postings feed dl, df, stats AND every search's scoring join; the
    # persist keeps the one tokenization pass honest where the barrier
    # exchange alone is re-derived past AQE's one-level runtime reuse
    # (measured −0.9 s on the merged-index search row at sf0.1).
    # cache.pin (r16): rebuilds on this session release the old
    # pins; keep=2 because one merged-index query legitimately builds
    # two half-indexes that are consumed together.
    tf = pin(
        barrier(term_frequencies(docs, id_col=id_col, text_col=text_col), id_col),
        "text.bm25_index.postings",
        keep=2,
    )
    dl = tf.groupBy(id_col).agg(F.sum("__tf").cast("bigint").alias("__dl"))
    df_t = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("__df"))
    stats = dl.groupBy().agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__dl").cast("bigint").alias("__s"),
    )
    return Bm25Index(tf=tf, dl=dl, df=df_t, stats=stats, id_col=id_col)


def bm25_merge_index(a: Bm25Index, b: Bm25Index) -> Bm25Index:
    """Merge two indexes over DISJOINT document sets — the ingest-batch
    rollup: postings and lengths union, document frequencies and corpus
    stats ADD. Exact: merged == an index built over the union corpus in
    one pass (unit-pinned). Overlapping ids would double-count df/stats,
    so the merged stats row carries an in-plan raise_error guard (one
    id-intersection aggregate, evaluated at first search — the package's
    lazy-guard discipline)."""
    if a.id_col != b.id_col:
        raise ValueError(f"id_col mismatch: {a.id_col!r} vs {b.id_col!r}")
    overlap = (
        a.dl.select(a.id_col)
        .join(b.dl.select(b.id_col), a.id_col)
        .groupBy()
        .agg(F.count("*").alias("__dup"))
    )
    stats = (
        a.stats.unionByName(b.stats)
        .groupBy()
        .agg(
            F.sum("__n").cast("bigint").alias("__n"),
            F.sum("__s").cast("bigint").alias("__s"),
        )
        .crossJoin(F.broadcast(overlap))
        .select(
            F.when(F.col("__dup") == 0, F.col("__n"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "bm25_merge_index: the two indexes share document ids — "
                        "df/stats would double-count; dedup the batches first"
                    )
                ).cast("bigint")
            )
            .alias("__n"),
            "__s",
        )
    )
    df_t = (
        a.df.unionByName(b.df)
        .groupBy("term")
        .agg(F.sum("__df").cast("bigint").alias("__df"))
    )
    return Bm25Index(
        tf=a.tf.unionByName(b.tf),
        dl=a.dl.unionByName(b.dl),
        df=df_t,
        stats=stats,
        id_col=a.id_col,
    )


#: bm25_write_index layout version — bump on any table-schema change so
#: bm25_read_index can refuse a layout it does not understand instead of
#: mis-joining silently
_BM25_INDEX_VERSION = 1


def bm25_write_index(index: Bm25Index, path: str, mode: str = "error") -> None:
    """Persist the index as five parquet tables under ``path`` — tf, dl,
    df, stats, plus a one-row ``meta`` table carrying ``id_col`` and a
    layout version. This is the at-rest half of the index-once /
    search-many shape the :class:`Bm25Index` docstring promises: build
    at ingest, write once, and every later search (or
    :func:`bm25_merge_index` rollup with a newer batch) starts from
    :func:`bm25_read_index` instead of re-tokenizing the corpus. The
    reference's analog is its stored offsets contract
    (impl/offsets/DefaultOffsetsState.java — state that survives process
    restart). ``mode`` passes through to the parquet writer
    (``overwrite`` for re-ingest)."""
    index.tf.write.mode(mode).parquet(f"{path}/tf")
    index.dl.write.mode(mode).parquet(f"{path}/dl")
    index.df.write.mode(mode).parquet(f"{path}/df")
    index.stats.write.mode(mode).parquet(f"{path}/stats")
    store.write_meta(
        index.stats.sparkSession,
        path,
        "id_col string",
        (index.id_col,),
        _BM25_INDEX_VERSION,
        mode,
    )


def bm25_read_index(spark, path: str) -> Bm25Index:
    """Load a stored index written by :func:`bm25_write_index`. The only
    driver-side read is the one-row meta table (the pinned-param-check
    collect pattern of functions/sketches._scheme); the four data
    frames stay lazy parquet scans, so a search that prunes terms via
    ``max_df_fraction`` still pushes its filters into the postings
    scan."""
    meta = store.read_meta(spark, path, _BM25_INDEX_VERSION, "bm25_read_index")
    return Bm25Index(
        tf=spark.read.parquet(f"{path}/tf"),
        dl=spark.read.parquet(f"{path}/dl"),
        df=spark.read.parquet(f"{path}/df"),
        stats=spark.read.parquet(f"{path}/stats"),
        id_col=meta.id_col,
    )


def bm25_topk_indexed(
    index: Bm25Index,
    query_ids,
    top_k: int,
    min_df: int = 1,
    max_df_fraction: float = 0.5,
):
    """BM25 search against a STORED index — the single scoring
    implementation both entry points share (see :func:`bm25_topk` for
    the scoring math and its exact-integer discipline). The df window
    and the empty-keep raise apply at SEARCH time, so one stored index
    serves any (min_df, max_df_fraction) policy."""
    from pyspark.sql import Window as W

    from kafka_workers_spark.operators.dedup import barrier
    from kafka_workers_spark.operators.similarity import _query_id_filter

    id_col = index.id_col
    # lazy empty-keep guard (the tfidf_weights pattern): a corpus whose
    # df window keeps no terms must raise, never silently return empty
    g = index.stats.select(
        F.when(
            F.floor(F.lit(float(max_df_fraction)) * F.col("__n")) >= F.lit(min_df),
            F.col("__n"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"bm25 search: max_df_fraction×N ({max_df_fraction}×"),
                    F.col("__n").cast("string"),
                    F.lit(
                        f") < min_df ({min_df}) keeps NO terms — every query "
                        "would silently return empty; widen the df window"
                    ),
                )
            ).cast("bigint")
        )
        .alias("__n"),
        F.col("__s"),
    ).select(
        "__n",
        # nearest-integer average document length (ties round up) —
        # integral DIV, never double division (exact past 2^53)
        F.expr("(2 * __s + __n) DIV (2 * __n)").alias("__adl"),
    )
    df_t = index.df.crossJoin(F.broadcast(g))
    kept = df_t.filter(
        (F.col("__df") >= min_df)
        & (F.col("__df") <= F.floor(F.lit(float(max_df_fraction)) * F.col("__n")))
    )
    idf6 = F.floor(
        F.lit(1_000_000.0)
        * F.log(
            (F.lit(2) * F.col("__n") + 2).cast("double")
            / (F.lit(2) * F.col("__df") + 1).cast("double")
        )
    ).cast("bigint")
    kept = kept.select("term", idf6.alias("__idf6"), "__adl")
    w = (
        index.tf.join(kept, "term")
        .join(index.dl, id_col)
        .select(
            id_col,
            "term",
            # every step integral DIV on bigints (exact; Spark's / on
            # bigint columns is DOUBLE division, wrong past 2^53) —
            # DuckDB's // replays it exactly, all operands positive
            F.expr(
                "(__idf6 * ((22000000 * __tf * __adl)"
                " DIV (10 * __tf * __adl + 3 * __adl + 9 * __dl)))"
                " DIV 1000000"
            )
            .cast("bigint")
            .alias("__w6"),
            F.col("__tf"),
        )
    )
    from kafka_workers_spark.cache import pin

    # the per-(doc, term) weight frame feeds the broadcast query slice
    # and the scoring join — persisted for the same nested-reuse reason
    # as tfidf_topk's weight pin; cache.pin (r16) makes repeated
    # searches on one session release the superseded weight frames
    # (ADVICE r15 #1: this site accumulated postings-scale blocks per
    # search call)
    w = pin(barrier(w, id_col), "text.bm25_topk_indexed.weights")
    q = _query_id_filter(w, id_col, query_ids).select(
        F.col(id_col).alias("query_id"), "term", F.col("__tf").alias("__qtf")
    )
    scored = (
        w.join(F.broadcast(q), "term")
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("__qtf") * F.col("__w6")).cast("bigint").alias("score6"))
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("score6"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "score6")
    )


def bm25_topk(
    docs,
    query_ids,
    top_k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_fraction: float = 0.5,
):
    """Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009; k1 = 1.2,
    b = 0.75) over the same inverted-index shape as :func:`tfidf_topk` —
    query docs meet posting lists via one term equi-join, cost bounded
    by ``max_df_fraction``. Returns (query_id, neighbor_id, rank,
    score6) with ``score6`` an EXACT bigint so a SQL oracle replays the
    ranking bit for bit.

    Exact-integer discipline: with k1 = 6/5 and b = 3/4 the tf term
    ``tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl))`` is the rational
    ``22·tf·adl / (10·tf·adl + 3·adl + 9·dl)`` once ``avgdl`` is
    quantized to the nearest integer token count ``adl =
    (2S+N) DIV 2N`` (S = Σ doc lengths, N = tokenized docs — a
    deliberate ≤0.5-token quantization that keeps every product inside
    int64: 1e6·22·tf·adl stays under 2^63 for any realistic tf·adl).
    Per-term weight ``w6 = (idf6 · t6) DIV 1e6`` with ``t6 =
    (1e6·22·tf·adl) DIV (10·tf·adl + 3·adl + 9·dl)`` and ``idf6 =
    floor(1e6·ln((2N+2)/(2df+1)))`` (the BM25+ non-negative idf,
    ``ln(1 + (N−df+½)/(df+½))`` — same int-ratio-then-ln form the
    TF-IDF oracle already holds cross-engine). The final score is
    ``Σ_t qtf·w6`` — exact bigint addition, so the aggregate is
    order-free and the double-summation-order hazard never arises.
    Query-side term frequency multiplies in (the k3 → ∞ limit of the
    full Robertson formula; queries here are documents, not keyword
    lists).

    Scale shape mirrors tfidf_topk: N, S derive IN-PLAN from the dl
    aggregate (one-row broadcast, no eager job; the empty-corpus keep
    check raises lazily via raise_error), the df window prunes
    near-universal terms before the posting join, and only query-side
    rows carry broadcast hints."""
    return bm25_topk_indexed(
        bm25_index(docs, id_col=id_col, text_col=text_col),
        query_ids,
        top_k=top_k,
        min_df=min_df,
        max_df_fraction=max_df_fraction,
    )


def transition_pairs(frame, id_col: str = "doc_id", text_col: str = "text"):
    """``(id_col, __prev, __cur)`` adjacent-token transition rows over
    normalized non-empty whitespace tokens — the shared extraction of
    the LM family (:func:`bigram_lm_score`, :func:`kneser_ney_score`).
    Token staging goes behind a barrier so the split is materialized
    once, not re-evaluated per element access."""
    from kafka_workers_spark.operators.dedup import barrier

    toks = F.filter(tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0)
    staged = barrier(frame.select(id_col, toks.alias("__toks")))
    pairs = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - 2),
            lambda i: F.struct(
                F.element_at("__toks", i + 1).alias("__prev"),
                F.element_at("__toks", i + 2).alias("__cur"),
            ),
        ),
    )
    return staged.select(id_col, F.explode(pairs).alias("__bg")).select(
        id_col, "__bg.__prev", "__bg.__cur"
    )


def bigram_lm_score(
    docs,
    ref_docs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    vocab_size: int | None = None,
):
    """CCNet-style statistical language-model quality scoring (Wenzek et
    al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data", arXiv:1911.00359 — there a KenLM 5-gram over
    Wikipedia; here the Spark-native equivalent: an add-α smoothed
    BIGRAM model trained on ``ref_docs`` and scored over ``docs``).
    Documents whose token transitions look unlike the reference corpus
    (gibberish, word salad, boilerplate lists) score high perplexity —
    the standard model-based quality signal one step above
    :func:`gopher_filter`'s rule heuristics.

    Per-token transition probability ``p(cur|prev) = (c(prev,cur) + α) /
    (c(prev) + α·V)``; a document's score is the mean log-probability of
    its transitions and ``ppl = exp(-avg_logprob)``. ``ref_docs=None``
    self-scores (train and score on the same corpus — every transition
    then has count >= 1). Tokens are whitespace tokens over
    :func:`normalized` text (the same engine-portable tokenization the
    TF-IDF family uses).

    Build is JOB-FREE (package contract): context counts derive from the
    bigram-count aggregate (``c(prev) = Σ_w c(prev,w)`` — the correct
    bigram denominator, and one aggregate over the small counts table
    instead of a second corpus shuffle), and V either comes in as
    ``vocab_size`` (catalog stats — folds in as a literal) or derives
    IN-PLAN as the distinct-token count over the same counts table (a
    one-row broadcast, no eager action). Derived-V semantics: tokens
    observed in some transition — a token occurring only in one-token
    documents is invisible to the model; pass ``vocab_size`` when the
    denominator must include them.

    Shape at scale: two partial-aggregatable shuffles build the model
    (bigram counts; context counts over that output), the scoring join
    ships SLIM (id, prev, cur) rows against the counts tables, and the
    per-document aggregate is keyed by ``id_col``. No document payloads
    shuffle. The scoring join keys on raw tokens, so natural-language
    Zipf skew concentrates on a few hot keys ("the"-row fan-out); both
    joins are unhinted and RELY ON AQE's skew-join split for the hot keys
    (the engine default keeps AQE on; the hot key's probe rows are split
    across tasks, the discipline dedup_substrings documents for hot
    window hashes), which stays correct for reference corpora whose
    counts tables outgrow executor memory.

    Returns one row per input document:
    ``id_col, n_bigrams, n_unseen, sum_bigram_count, sum_context_count,
    avg_logprob, ppl`` — the first five are exact integers (the
    DuckDB-oracle surface; ln() differs across engines in the last ulp,
    so the float columns are verified by a differential test instead),
    NULL floats / zero counts for documents with fewer than two tokens.

    Reference parity: content scoring lives in user task code in the
    reference (WorkerTask.java:50); this is the curation stage that code
    would implement.
    """
    from kafka_workers_spark.operators.dedup import barrier

    def transitions(frame):
        return transition_pairs(frame, id_col=id_col, text_col=text_col)

    ref = transitions(ref_docs if ref_docs is not None else docs)
    cb = ref.groupBy("__prev", "__cur").agg(F.count("*").alias("__cb"))
    from kafka_workers_spark.cache import pin

    # feeds cc, V, and the scoring join once — persisted because the
    # three consumers sit past AQE's one-level exchange reuse;
    # cache.pin (r16): repeated scoring calls release old pins
    cb = pin(barrier(cb, "__prev"), "text.bigram_lm_score.counts")
    cc = cb.groupBy("__prev").agg(F.sum("__cb").alias("__cc"))
    if vocab_size is not None:
        v_col = F.lit(int(vocab_size)).cast("bigint")
        scored_base = transitions(docs) if ref_docs is not None else ref
    else:
        v_row = (
            cb.select(F.explode(F.array("__prev", "__cur")).alias("__t"))
            .agg(F.count_distinct("__t").alias("__v"))
        )
        scored_base = (transitions(docs) if ref_docs is not None else ref).crossJoin(
            F.broadcast(v_row)
        )
        v_col = F.col("__v")
    joined = (
        scored_base.join(cc, "__prev", "left")
        .join(cb, ["__prev", "__cur"], "left")
        .select(
            id_col,
            F.coalesce("__cb", F.lit(0)).cast("bigint").alias("__cb"),
            F.coalesce("__cc", F.lit(0)).cast("bigint").alias("__cc"),
            v_col.alias("__v"),
        )
    )
    a = float(alpha)
    logp = F.log(
        (F.col("__cb").cast("double") + F.lit(a))
        / (F.col("__cc").cast("double") + F.lit(a) * F.col("__v").cast("double"))
    )
    stats = joined.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum((F.col("__cb") == 0).cast("bigint")).alias("n_unseen"),
        F.sum("__cb").alias("sum_bigram_count"),
        F.sum("__cc").alias("sum_context_count"),
        F.avg(logp).alias("avg_logprob"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_unseen", F.lit(0)).cast("bigint").alias("n_unseen"),
            F.coalesce("sum_bigram_count", F.lit(0)).cast("bigint").alias("sum_bigram_count"),
            F.coalesce("sum_context_count", F.lit(0)).cast("bigint").alias("sum_context_count"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


#: Kneser-Ney probability fixed-point scale: p9 = floor(P × 10^9)
KN_SCALE = 1_000_000_000


def kneser_ney_score(
    docs,
    ref_docs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: tuple[int, int] = (3, 4),
):
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney, "Improved
    backing-off for m-gram language modeling", ICASSP 1995; formulation
    per Chen & Goodman 1998 §2.7) — the smoothing KenLM uses, one step
    above :func:`bigram_lm_score`'s add-α: absolute discounting plus a
    CONTINUATION unigram ("how many distinct contexts precede w?"), so
    frequent-but-context-bound tokens ("francisco") stop inflating
    unseen-transition probability the way raw unigram backoff does.

    With discount ``D = discount[0]/discount[1]`` (default 3/4) and
    bigram-type counts from the reference corpus:

        P(cur|prev) = max(c(prev,cur) − D, 0)/c(prev)
                      + (D·N1+(prev,·)/c(prev)) · N1+(·,cur)/T

    where N1+(prev,·) / N1+(·,cur) are distinct right/left neighbor
    counts and T is the total number of distinct bigram types. Unseen
    contexts (c(prev)=0) back off to the continuation unigram
    N1+(·,cur)/T alone; tokens unseen anywhere score 0.

    Exactness discipline: every probability is computed as the scaled
    integer ``p9 = floor(P × 10^9)`` with the whole numerator/denominator
    built in DECIMAL(38,0) and divided with ``DIV`` (== DuckDB HUGEINT
    ``//`` — quotients fit int64 by construction since p9 ≤ 10^9; the
    three-count products overflow int64 at web scale, hence decimal-38,
    the :func:`phrase_scores` rule). The per-document ``sum_p9`` and the
    count columns are therefore bit-exact cross-engine (the oracle
    surface); ``avg_logprob``/``ppl`` floor p9 at 1 (the scale's
    resolution — a zero-probability transition contributes ln 10⁻⁹) and
    are float, differential-tested like the add-α LM's.

    An empty reference model raises in-plan (T=0 would otherwise
    silently NULL every division): the raise rides the one-row T
    broadcast's projection, which every scored row references.

    Shape at scale: identical to :func:`bigram_lm_score` — the model is
    three vocab-bounded count tables plus a one-row T broadcast, built
    job-free from one bigram aggregate; the token-keyed scoring joins are
    unhinted and rely on AQE's skew-join split for the Zipf-hot keys.
    Returns one row per input document: ``id_col, n_bigrams,
    n_unseen_context, n_unseen_bigram, sum_p9, avg_logprob, ppl``.
    """
    from kafka_workers_spark.operators.dedup import barrier

    dn, dd = discount
    if not 0 <= dn < dd:
        raise ValueError(f"discount ({discount}) must be a rational in [0, 1)")
    s = KN_SCALE
    ref = transition_pairs(ref_docs if ref_docs is not None else docs, id_col, text_col)
    cb = ref.groupBy("__prev", "__cur").agg(F.count("*").alias("__cb"))
    from kafka_workers_spark.cache import pin

    # feeds ctx, cont, T, and the scoring join once — persisted because
    # the four consumers sit past AQE's one-level exchange reuse
    # (measured −0.7 s of the 3.1 s row at sf0.1); cache.pin (r16):
    # repeated scoring calls release old pins
    cb = pin(barrier(cb, "__prev"), "text.kneser_ney_score.counts")
    ctx = cb.groupBy("__prev").agg(
        F.sum("__cb").alias("__c1"), F.count("*").alias("__fwd")
    )
    cont = cb.groupBy("__cur").agg(F.count("*").alias("__bwd"))
    t_row = cb.agg(F.count("*").alias("__t_raw")).select(
        F.when(F.col("__t_raw") > 0, F.col("__t_raw"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "kneser_ney_score: the reference corpus has no bigrams — "
                    "every probability would be undefined (T = 0)"
                )
            ).cast("bigint")
        )
        .alias("__t")
    )
    scored = (
        transition_pairs(docs, id_col, text_col) if ref_docs is not None else ref
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    joined = (
        scored.join(ctx, "__prev", "left")
        .join(cb, ["__prev", "__cur"], "left")
        .join(cont, "__cur", "left")
        .crossJoin(F.broadcast(t_row))
        .select(
            id_col,
            F.coalesce("__cb", F.lit(0)).cast("bigint").alias("__cb"),
            F.coalesce("__c1", F.lit(0)).cast("bigint").alias("__c1"),
            F.coalesce("__fwd", F.lit(0)).cast("bigint").alias("__fwd"),
            F.coalesce("__bwd", F.lit(0)).cast("bigint").alias("__bwd"),
            "__t",
        )
        .select(
            id_col,
            "__cb",
            "__c1",
            (
                (
                    F.greatest(
                        d38(F.lit(dd)) * d38(F.col("__cb")) - d38(F.lit(dn)),
                        d38(F.lit(0)),
                    )
                    * d38(F.col("__t"))
                    + d38(F.lit(dn)) * d38(F.col("__fwd")) * d38(F.col("__bwd"))
                )
                * d38(F.lit(s))
            ).alias("__num"),
            (d38(F.lit(dd)) * d38(F.col("__c1")) * d38(F.col("__t"))).alias("__den"),
            (d38(F.col("__bwd")) * d38(F.lit(s))).alias("__cont_num"),
            d38(F.col("__t")).alias("__t38"),
        )
        .select(
            id_col,
            "__cb",
            "__c1",
            F.when(F.col("__c1") > 0, F.expr("__num DIV __den"))
            .otherwise(F.expr("__cont_num DIV __t38"))
            .cast("bigint")
            .alias("__p9"),
        )
    )
    logp = F.log(F.greatest(F.col("__p9"), F.lit(1)).cast("double")) - F.log(
        F.lit(float(s))
    )
    stats = joined.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum((F.col("__c1") == 0).cast("bigint")).alias("n_unseen_context"),
        F.sum((F.col("__cb") == 0).cast("bigint")).alias("n_unseen_bigram"),
        F.sum("__p9").alias("sum_p9"),
        F.avg(logp).alias("avg_logprob"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_unseen_context", F.lit(0)).cast("bigint").alias("n_unseen_context"),
            F.coalesce("n_unseen_bigram", F.lit(0)).cast("bigint").alias("n_unseen_bigram"),
            F.coalesce("sum_p9", F.lit(0)).cast("bigint").alias("sum_p9"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


def blocklist_metrics(
    docs,
    lexicon: tuple[str, ...],
    text_col: str = "text",
    count_col: str = "n_blocked",
    fraction_col: str = "blocked_fraction",
):
    """Token-level blocklist hit metrics (C4, Raffel et al. 2020 §2.2
    removes any page containing a word from a public "bad words" list;
    Gopher and CCNet variants threshold on the hit fraction instead).
    Adds ``count_col`` (hits with multiplicity) and ``fraction_col``
    (hits / tokens, 0.0 for token-less documents) over whitespace tokens
    of the :func:`normalized` text — supply the lexicon ALREADY in
    normalized form (lowercase alphanumeric), or entries can never
    match. The lexicon folds in as an array literal (broadcast-free,
    single codegen scan, no shuffle); ship a join-based variant instead
    if a deployment's list outgrows a literal (thousands of entries).
    """
    toks = F.filter(tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0)
    hits = stopword_hits(toks, lexicon)
    n = F.size(toks)
    return docs.withColumn(count_col, hits).withColumn(
        fraction_col,
        F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0)),
    )


def blocklist_filter(
    docs,
    lexicon: tuple[str, ...],
    max_fraction: float = 0.0,
    text_col: str = "text",
):
    """Drop documents whose blocklist hit fraction exceeds
    ``max_fraction``. The default 0.0 is C4's rule (any hit drops the
    page); CCNet-style deployments pass a small positive threshold so a
    single quoted word cannot delete an otherwise clean document. Pure
    pushable filter over :func:`blocklist_metrics`' columns, which are
    dropped again — compose metrics yourself to keep the audit trail.
    """
    if not 0.0 <= max_fraction <= 1.0:
        raise ValueError(f"max_fraction must be in [0, 1], got {max_fraction}")
    # reserved internal names (the module convention), so a caller's own
    # n_blocked/blocked_fraction audit columns pass through untouched
    m = blocklist_metrics(
        docs,
        lexicon,
        text_col=text_col,
        count_col="__blocklist_hits",
        fraction_col="__blocklist_fraction",
    )
    return m.filter(F.col("__blocklist_fraction") <= F.lit(float(max_fraction))).drop(
        "__blocklist_hits", "__blocklist_fraction"
    )


def dsir_weights(
    docs,
    target,
    background=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
):
    """DSIR hashed n-gram importance weights (Xie, Santurkar, Ma, Liang,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023, arXiv:2302.03169): estimate bag-of-hashed-n-gram
    models of a small TARGET domain sample and of the raw BACKGROUND
    corpus, then weight every document by how much more likely its
    features are under the target model — the published scalable recipe
    for "select pretraining data that looks like the domain you care
    about" (the feature space is hashed n-grams precisely so the model
    is a fixed-size count table, not a neural scorer).

    Features are unigrams + bigrams over :func:`normalized` whitespace
    tokens (the engine-portable tokenization the TF-IDF/LM family uses),
    hashed to ``n_buckets`` buckets via the md5-prefix integer trick
    (functions/determinism.py sample_coin) — deterministic and replayable
    in ANSI SQL, unlike murmur/xxhash. Per document:
    ``log w = Σ_features [ln (t_b + α)/(T + α·m) − ln (q_b + α)/(Q + α·m)]``
    with ``t``/``q`` the target/background bucket counts, ``T``/``Q``
    their totals, ``m = n_buckets`` — add-α smoothing exactly as
    :func:`bigram_lm_score`.

    Returns one row per ``docs`` row: ``id_col, n_feats,
    sum_target_count, sum_background_count, log_weight`` — the first
    three are exact integers (the DuckDB-oracle surface; the float is
    differential-tested against a Python reference, ln() being libm).
    Documents with no features get zero counts and NULL ``log_weight``.

    Scale shape (100 TB): both models are ≤ ``n_buckets`` rows BY
    CONSTRUCTION — they broadcast regardless of corpus size, so scoring
    is scan → explode features → two broadcast joins → one id-keyed
    partial aggregate; no token-keyed shuffle exists, hence no Zipf
    hot-key problem (contrast :func:`bigram_lm_score`'s shuffle path).
    Model building is two partial-aggregatable count shuffles bounded by
    n_buckets output rows; totals ride along as one-row broadcasts
    (job-free build, package contract). Hash collisions fold rare
    features together — the paper's accepted trade for a fixed-size
    model; raise ``n_buckets`` to taste.
    """
    from kafka_workers_spark.operators.dedup import barrier

    def feats(frame, keep_id: bool):
        toks = F.filter(
            tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0
        )
        staged = barrier(
            frame.select(*( [id_col] if keep_id else [] ), toks.alias("__toks"))
        )
        uni = F.col("__toks")
        bi = F.when(
            F.size("__toks") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("__toks", i + 1), F.element_at("__toks", i + 2)
                ),
            ),
        ).otherwise(F.array())
        feat = F.explode(F.concat(uni, bi)).alias("__f")
        cols = [id_col, feat] if keep_id else [feat]
        bucket = (
            F.conv(F.substring(F.md5(F.col("__f")), 1, 15), 16, 10).cast("bigint")
            % n_buckets
        ).alias("__b")
        return staged.select(*cols).select(
            *( [id_col] if keep_id else [] ), bucket
        )

    bg = background if background is not None else docs
    t_counts = feats(target, keep_id=False).groupBy("__b").agg(
        F.count("*").alias("__t")
    )
    q_counts = feats(bg, keep_id=False).groupBy("__b").agg(
        F.count("*").alias("__q")
    )
    # totals as one-row broadcasts (job-free build): T and Q fold into
    # the per-feature log term, so the scoring pass needs no action
    tot = (
        t_counts.agg(F.sum("__t").alias("__tt"))
        .crossJoin(q_counts.agg(F.sum("__q").alias("__qt")))
    )
    a = float(alpha)
    m = float(n_buckets)
    # coalesce BEFORE the log terms: an unseen bucket's joined count is
    # NULL, and a NULL-propagating log term would silently drop that
    # feature from the SUM — precisely the smoothed-floor features the
    # weight exists to penalize
    t_cnt = F.coalesce("__t", F.lit(0)).cast("bigint")
    q_cnt = F.coalesce("__q", F.lit(0)).cast("bigint")
    scored = (
        feats(docs, keep_id=True)
        .join(F.broadcast(t_counts), "__b", "left")
        .join(F.broadcast(q_counts), "__b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            t_cnt.alias("__t"),
            q_cnt.alias("__q"),
            (
                F.log(t_cnt.cast("double") + F.lit(a))
                - F.log(F.col("__tt").cast("double") + F.lit(a * m))
                - F.log(q_cnt.cast("double") + F.lit(a))
                + F.log(F.col("__qt").cast("double") + F.lit(a * m))
            ).alias("__lw"),
        )
    )
    stats = scored.groupBy(id_col).agg(
        F.count("*").alias("n_feats"),
        F.sum("__t").alias("sum_target_count"),
        F.sum("__q").alias("sum_background_count"),
        F.sum("__lw").alias("log_weight"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce("sum_target_count", F.lit(0)).cast("bigint").alias("sum_target_count"),
            F.coalesce("sum_background_count", F.lit(0)).cast("bigint").alias("sum_background_count"),
            F.col("log_weight"),
        )
    )


def dsir_resample(
    weighted,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    seed: str = "dsir",
):
    """DSIR's Gumbel-top-k resample (Xie et al. 2023 §2: sampling without
    replacement ∝ importance weight ≡ keeping the k largest
    ``log w + Gumbel noise``): perturb each document's log-weight with
    deterministic Gumbel noise ``g = −ln(−ln u)`` where ``u`` is the
    md5-coin uniform in (0,1) keyed by (seed, id) — no RNG state, so
    re-runs and backfills select identical documents (the package's
    sampling reproducibility contract; a fresh draw is a new ``seed``).
    NULL weights (featureless docs) never survive.

    Returns the surviving ``weighted`` rows plus the ``__g`` noise
    column. Physical shape: per-partition top-k then a k-row driver
    merge (TakeOrderedAndProject) — correct for selection budgets that
    fit one node's memory; for billion-row selections compute a global
    threshold on ``log_weight + __g`` (approx_percentile) and filter
    instead."""
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 60))
    )
    g = -F.log(-F.log(u))
    return (
        weighted.filter(F.col(weight_col).isNotNull())
        .withColumn("__g", g)
        .orderBy(F.desc(F.col(weight_col) + F.col("__g")), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training support (Sennrich, Haddow, Birch, "Neural Machine
# Translation of Rare Words with Subword Units", ACL 2016 — the byte-pair-
# encoding merge-learning algorithm every GPT/Llama-family tokenizer uses)
# ---------------------------------------------------------------------------


def bpe_word_counts(docs, text_col: str = "text"):
    """(word, n) pre-token frequency table — the compression step that
    makes distributed BPE training tractable: the corpus collapses to
    its VOCABULARY (Zipf-bounded — millions of rows at 100 TB, not
    trillions), and every subsequent merge iteration works on this tiny
    frame instead of the corpus. Pre-tokenization is ``BPE_SPLIT_RE``
    (letter runs / digit runs / single punctuation — the coarse split
    every byte-pair tokenizer applies before merges). One
    partial-aggregatable shuffle keyed by word."""
    return (
        docs.select(
            F.explode(F.regexp_extract_all(text_col, F.lit(BPE_SPLIT_RE), 0)).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def bpe_pair_counts(syms):
    """Adjacent-symbol pair frequencies over a ``(symbols array<string>,
    n)`` frame, weighted by word count — the table whose argmax IS the
    next BPE merge rule. Pure array expressions (sequence → transform →
    explode) + one hash aggregate; rows are bounded by distinct adjacent
    pairs, not corpus size. Returns ``(left, right, cnt)``."""
    pairs = F.when(
        F.size("symbols") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("symbols") - 2),
            lambda i: F.struct(
                F.element_at("symbols", i + 1).alias("left"),
                F.element_at("symbols", i + 2).alias("right"),
            ),
        ),
    )
    return (
        syms.select(F.explode(pairs).alias("__p"), "n")
        .groupBy(F.col("__p.left").alias("left"), F.col("__p.right").alias("right"))
        .agg(F.sum("n").alias("cnt"))
    )


def _bpe_apply_merge_cols(symbols: Column, left: Column, right: Column) -> Column:
    """Greedy left-to-right replacement of adjacent (left, right) with
    their concatenation — one BPE merge applied to one symbol array, as
    a codegen'd fold (F.aggregate). Overlaps resolve left-first exactly
    like the reference algorithm ("aaa" under (a,a) → [aa, a]): once the
    pair merges, the new symbol's string (left||right, never empty on
    the right) differs from ``left``, so the fold cannot re-consume it.
    ``left``/``right`` are COLUMNS so the rule can come off a broadcast
    1-row argmax frame (bpe_train_plan) as well as a literal
    (bpe_train). :func:`_bpe_merge_pair` is the same rule in Python."""
    merged = F.concat(left, right)
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == left) & (s == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_merge_pair(syms: list[str], left: str, right: str) -> list[str]:
    """:func:`_bpe_apply_merge_cols`'s rule over a Python symbol list:
    every (left, right) occurrence, scanned left to right, becomes
    ``left + right``; an overlap resolves left-first. The one Python
    form of the rule, shared by training (:func:`_bpe_merges`) and
    encoding (:func:`_bpe_encode_word`)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_merges(
    words: list[str], counts: list[int], n_merges: int, min_pair_count: int = 1
) -> list[tuple[str, str, int]]:
    """Sennrich's loop over a ``(word, count)`` vocabulary in one place:
    up to ``n_merges`` ``(left, right, cnt)`` rules, each the most
    frequent adjacent pair weighted by word count, ties to the smallest
    ``(left, right)`` in code-point order (Spark's and DuckDB's string
    order), merged everywhere with :func:`_bpe_merge_pair`. Stops early
    when no pair is left or the best count is below ``min_pair_count``.
    Words split into code points (``list(word)``, as Spark's
    ``split(word, '')``); counts are Python ints, so they cannot wrap.

    Pair counts are kept incrementally: a merge rewrites only the words
    holding its pair (a pair → word-index map) and re-counts their
    pairs; the argmax is a heap of ``(-cnt, left, right)`` whose stale
    entries (count since changed) are skipped when they surface."""
    vocab = [list(w) for w in words]
    pairs: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(vocab):
        for p in zip(syms, syms[1:]):
            pairs[p] = pairs.get(p, 0) + counts[wi]
            where.setdefault(p, set()).add(wi)
    heap = [(-c, l, r) for (l, r), c in pairs.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        while heap and pairs.get(heap[0][1:]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap or -heap[0][0] < min_pair_count:
            break
        neg, left, right = heapq.heappop(heap)
        merges.append((left, right, -neg))
        changed: set[tuple[str, str]] = set()
        for wi in where.pop((left, right)):
            old = vocab[wi]
            new = _bpe_merge_pair(old, left, right)
            vocab[wi] = new
            n = counts[wi]
            for p in zip(old, old[1:]):
                pairs[p] -= n
                changed.add(p)
            for p in zip(new, new[1:]):
                pairs[p] = pairs.get(p, 0) + n
                changed.add(p)
            olds = set(zip(old, old[1:]))
            news = set(zip(new, new[1:]))
            for p in olds - news:
                if p in where:
                    where[p].discard(wi)
            for p in news - olds:
                where.setdefault(p, set()).add(wi)
        for p in changed:
            c = pairs[p]
            if c:
                heapq.heappush(heap, (-c, *p))
            else:
                del pairs[p]
                where.pop(p, None)
    return merges


_BPE_MERGE_TABLE = pa.schema([
    ("merge_rank", pa.int32()),
    ("lhs", pa.string()),
    ("rhs", pa.string()),
    ("merged", pa.string()),
    ("cnt", pa.int64()),
])


def _bpe_train_task(n_merges: int, batches):
    """``mapInArrow`` body of :func:`bpe_train_plan`'s one-task path:
    the partition's ``(word, n)`` rows in, the merge table out.
    Module-level, so the pickled task references this module and the
    Python worker that unpickles it imports the package (whose
    ``__init__`` installs ``session._install_zip_stat_check``)."""
    words: list[str] = []
    counts: list[int] = []
    for b in batches:
        words += b.column("word").to_pylist()
        counts += b.column("n").to_pylist()
    merges = _bpe_merges(words, counts, n_merges)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(range(1, len(merges) + 1), pa.int32()),
            pa.array([m[0] for m in merges], pa.string()),
            pa.array([m[1] for m in merges], pa.string()),
            pa.array([m[0] + m[1] for m in merges], pa.string()),
            pa.array([m[2] for m in merges], pa.int64()),
        ],
        schema=_BPE_MERGE_TABLE,
    )


#: Word-count tables (distinct pre-tokens) of up to this many
#: characters in all are trained in one place — one Python task
#: (:func:`bpe_train_plan`) or the driver (:func:`bpe_train`) — instead
#: of one Spark round per merge. Time, measured with
#: ``bpe_train_plan(n_merges=8)`` plus a collect on generated corpora
#: (random 3–10 letter words, Zipf-like repeats; local[3] on 4 cores, 3
#: shuffle partitions, 3 GB driver, 1-min load 2–3; one-task vs loop,
#: cold then warm rep; V words ≈ 6.5·V characters):
#:   V = 10^4     0.8-4.5 s vs  6.1-9.6 s
#:   V = 10^5     1.2 s     vs 16.4-17.6 s
#:   V = 2.8·10^5 2.6-2.9 s vs 18.4-20.9 s
#:   V = 8.8·10^5 7.5-7.6 s vs 48-60 s
#: No crossover. The task's memory follows characters, not words: the
#: solver alone (:func:`_bpe_merges`, 8 merges, no Spark; tracemalloc)
#: peaked at
#:   7.7·10^5 words of 3–5 letters,   3.5·10^6 chars  197 MB, 3.9 s
#:   7.1·10^5 words of 3–10 letters,  4.9·10^6 chars  465 MB, 6.1 s
#:   2·10^5   words of 20–32 letters, 5.2·10^6 chars  420 MB, 5.1 s
#:   10^5     words of 40–64 letters, 5.2·10^6 chars  413 MB, 5.7 s
#: so the limit bounds characters, at the largest size measured.
_LOCAL_MAX_CHARS = 5_200_000


def bpe_train(
    docs,
    n_merges: int = 50,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a corpus (Sennrich et al.
    2016, Algorithm 1): words start as character arrays; each iteration
    counts adjacent-symbol pairs corpus-weighted, merges the most
    frequent pair everywhere, repeats. Ties break lexicographically on
    (left, right) — deterministic across runs, partitionings, and
    engines (the registered ``text_bpe_pairs`` query oracle-checks the
    pair-count table; the merge rules are differential-tested against a
    plain-Python reference and against the forced Spark loop).

    EAGER, and what it buys over the lazy :func:`bpe_train_plan` is
    data-dependent CONTROL FLOW: early stop at ``min_pair_count`` and
    rule counts in the tens of thousands. The corpus is touched ONCE
    (the word-count aggregate, checkpointed and sized in one job). A
    vocabulary of at most ``_LOCAL_MAX_CHARS`` characters is collected
    and trained on the driver by :func:`_bpe_merges` — no Spark job per
    merge (ARCHITECTURE.md §4 rule 8). A larger one
    runs one round per merge on a held vocab-sized symbol frame: a
    codegen'd pair count + a 1-row argmax collect + an in-plan fold
    rewrite (:func:`_bpe_apply_merge_cols` with the rule as literals).
    Stops early when no pair reaches ``min_pair_count``. Returns the
    ordered merge list — persist it as a table and feed
    :func:`bpe_encode`."""
    from kafka_workers_spark.cache import release

    wc = bpe_word_counts(docs, text_col).localCheckpoint(eager=False)
    try:
        if _chars_in_one_job(wc) <= _LOCAL_MAX_CHARS:
            t = wc.toArrow()
            merges = _bpe_merges(
                t.column("word").to_pylist(), t.column("n").to_pylist(),
                n_merges, min_pair_count,
            )
            return [(left, right) for left, right, _ in merges]
        return _bpe_train_loop(wc, n_merges, min_pair_count)
    finally:
        release(wc)


def _chars_in_one_job(wc: DataFrame) -> int:
    """Total characters of a lazily checkpointed word-count table, in
    ONE Spark job, the one that materializes the checkpoint: metrics
    observed on a no-op write. An aggregate action would add a second
    job for its exchange."""
    obs = Observation()
    chars = F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("chars")
    wc.observe(obs, chars).write.format("noop").mode("overwrite").save()
    return obs.get["chars"]


def _bpe_train_loop(wc, n_merges: int, min_pair_count: int) -> list[tuple[str, str]]:
    """:func:`bpe_train`'s round loop over the checkpointed word counts
    ``wc``; the caller releases ``wc``."""
    from kafka_workers_spark.cache import hold, release

    syms = hold(wc.select(F.split("word", "").alias("symbols"), "n"))
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            top = (
                bpe_pair_counts(syms)
                .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
                .first()
            )
            if top is None or top.cnt < min_pair_count:
                break
            merges.append((top.left, top.right))
            nxt = hold(
                syms.select(
                    _bpe_apply_merge_cols(
                        F.col("symbols"), F.lit(top.left), F.lit(top.right)
                    ).alias("symbols"),
                    "n",
                )
            )
            nxt.count()  # materialize before dropping the parent hold
            release(syms)
            syms = nxt
    finally:
        release(syms)
    return merges


def bpe_train_plan(docs, n_merges: int = 8, text_col: str = "text"):
    """Fixed-round BPE training (no early stop) returning the merge
    table ``(merge_rank, lhs, rhs, merged, cnt)``, one row per round.

    Building it runs ONE Spark job (ARCHITECTURE.md §4 rule 8): the
    word-count table is lazily checkpointed and sized at call time
    (:func:`_chars_in_one_job`, which also materializes the checkpoint),
    and its size picks the plan:

    - At most ``_LOCAL_MAX_CHARS`` characters: the table is coalesced
      to one partition and one ``mapInArrow`` task runs Sennrich's loop
      over it (:func:`_bpe_merges`, the same solver :func:`bpe_train`
      uses on the driver). No round is a Spark job.
    - More: one collect-free Spark plan unrolls the rounds. Round k's
      argmax pair is a 1-row ``orderBy(cnt DESC, left, right).limit(1)``
      frame (TakeOrderedAndProject), broadcast cross-joined onto the
      vocab-sized symbol frame, so the merge rule is applied as COLUMNS
      inside the codegen'd fold (:func:`_bpe_apply_merge_cols`). Round
      k+1 references round k's symbols both directly and through its
      argmax, so the naive lazy tree doubles per round (measured: ~28 s
      of driver-side analysis at 8 rounds); a LAZY localCheckpoint per
      round truncates lineage at the vocab-sized symbol frame, making
      build and execution linear in rounds.

    Both plans stop when no pair is left, so the table can be shorter
    than ``n_merges``; they learn identical tables (pinned by
    tests/test_text_quality.py against the loop forced by a negative
    limit)."""
    wc = bpe_word_counts(docs, text_col).localCheckpoint(eager=False)
    if _chars_in_one_job(wc) <= _LOCAL_MAX_CHARS:
        return wc.coalesce(1).mapInArrow(
            functools.partial(_bpe_train_task, n_merges),
            from_arrow_schema(_BPE_MERGE_TABLE),
        )
    syms = wc.select(F.split("word", "").alias("symbols"), "n")
    rounds = []
    for k in range(1, n_merges + 1):
        top = (
            bpe_pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
        )
        rounds.append(
            top.select(
                F.lit(k).alias("merge_rank"),
                F.col("left").alias("lhs"),
                F.col("right").alias("rhs"),
                F.concat("left", "right").alias("merged"),
                "cnt",
            )
        )
        rule = F.broadcast(
            top.select(F.col("left").alias("__l"), F.col("right").alias("__r"))
        )
        syms = syms.crossJoin(rule).select(
            _bpe_apply_merge_cols(
                F.col("symbols"), F.col("__l"), F.col("__r")
            ).alias("symbols"),
            "n",
        ).localCheckpoint(eager=False)
    out = rounds[0]
    for t in rounds[1:]:
        out = out.unionByName(t)
    return out


def _bpe_encode_word(word: str, rank: dict, memo: dict) -> list[str]:
    """One pre-token through the learned merges in RANK order: while some
    adjacent pair has a rank, the lowest-ranked one is applied everywhere
    (:func:`_bpe_merge_pair`). ``memo`` caches the words already seen."""
    got = memo.get(word)
    if got is not None:
        return got
    s = list(word)
    while len(s) > 1:
        ranked = [(rank[p], p) for p in zip(s, s[1:]) if p in rank]
        if not ranked:
            break
        s = _bpe_merge_pair(s, *min(ranked)[1])
    memo[word] = s
    return s


def _bpe_encode_batches(rank: dict, splitter, text_col: str, out_col: str, batches):
    """``mapInPandas`` body of :func:`bpe_encode`, module-level for the
    reason :func:`_bpe_train_task` gives."""
    for pdf in batches:
        memo: dict = {}
        pdf[out_col] = [
            [t for w in splitter.findall(x or "") for t in _bpe_encode_word(w, rank, memo)]
            for x in pdf[text_col]
        ]
        yield pdf


def bpe_encode(
    docs,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
):
    """Tokenize with learned merges: pre-tokenize with ``BPE_SPLIT_RE``,
    split each pre-token to characters, apply the merges IN LEARNED
    ORDER (the BPE encode contract — rank order, not greedy-longest).
    The merge table travels in the pickled task (tokenizers are small —
    50k rules ≈ 1 MB); application is a vectorized Arrow-batched pass
    (mapInPandas): per batch, a dict-driven loop over pre-tokens with a
    per-batch memo — each DISTINCT pre-token in a batch is encoded once,
    so Zipf repetition makes the amortized cost per row tiny. A pure
    column-expression encode would need ``n_merges`` nested folds
    (codegen blow-up at real rule counts); this is the documented
    UDF-is-justified case, same as operators/scoring.py.

    Returns ``docs`` plus ``out_col: array<string>``."""
    import re as _re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    rank = {pair: i for i, pair in enumerate(merges)}
    schema = StructType(
        docs.schema.fields + [StructField(out_col, ArrayType(StringType()))]
    )
    run = functools.partial(
        _bpe_encode_batches, rank, _re.compile(BPE_SPLIT_RE), text_col, out_col
    )
    return docs.mapInPandas(run, schema=schema)


def phrase_scores(
    docs,
    text_col: str = "text",
    delta: int = 3,
    threshold: tuple[int, int] = (1, 10_000),
    min_count: int = 1,
):
    """word2phrase collocation mining (Mikolov et al., "Distributed
    Representations of Words and Phrases and their Compositionality",
    NeurIPS 2013, arXiv:1310.4546 §4): score every adjacent token pair
    by ``score(a,b) = (count(a,b) - δ) · N / (count(a) · count(b))`` —
    pairs that co-occur far more than their unigram frequencies predict
    are phrases ("new york", "gradient descent") worth fusing into
    single vocabulary entries before tokenizer/embedding training. δ
    discounts rare accidental pairs.

    ``threshold`` is a RATIONAL (num, den) — the phrase decision is the
    exact integer predicate ``(count(a,b) - δ) · N · den >
    num · count(a) · count(b)`` evaluated in DECIMAL(38,0) (products of
    three counts overflow bigint at web scale: N ~ 1e13 tokens puts the
    left side near 1e30 — inside decimal-38, past int64). The float
    ``score`` column is the human-readable form of the same quantity;
    the decision never reads it. Tokens are whitespace tokens over
    :func:`normalized` text (the LM/TF-IDF family tokenization).

    Returns one row per distinct adjacent pair with ``pair_cnt >=
    min_count``: ``lhs, rhs, pair_cnt, lhs_cnt, rhs_cnt, score,
    is_phrase`` — every column except ``score`` exact-integer/boolean
    (the DuckDB-oracle surface; score is two exact int64→double
    conversions, one multiply and one divide, so it is also
    bit-reproducible cross-engine and the oracle carries it).

    Shape at scale: build is JOB-FREE — unigram and pair counts are two
    partial-aggregatable token-keyed shuffles, N derives in-plan from
    the unigram table as a one-row broadcast. The scoring joins key the
    pair table against the unigram table on lhs/rhs; both are unhinted
    and rely on AQE's skew-join split for their Zipf hot keys ("the"-row
    fan-out), as :func:`bigram_lm_score`'s scoring joins do.

    Reference parity: vocabulary construction lives in user task code in
    the reference (WorkerTask.java:50); this is the phrase-vocab stage
    that code would implement.
    """
    from kafka_workers_spark.operators.dedup import barrier

    if delta < 0:
        raise ValueError(f"delta ({delta}) must be >= 0")
    num, den = threshold
    if den <= 0 or num < 0:
        raise ValueError(f"threshold ({threshold}) must be a nonnegative/positive rational")
    toks = F.filter(tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0)
    staged = barrier(docs.select(toks.alias("__toks")))
    uni = (
        staged.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count("*").alias("__c"))
    )
    uni = barrier(uni, "__t")  # feeds N and both scoring joins once
    n_row = uni.agg(F.sum("__c").alias("__n"))
    pairs_col = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - 2),
            lambda i: F.struct(
                F.element_at("__toks", i + 1).alias("lhs"),
                F.element_at("__toks", i + 2).alias("rhs"),
            ),
        ),
    )
    pair_cnt = (
        staged.select(F.explode(pairs_col).alias("__p"))
        .select("__p.lhs", "__p.rhs")
        .groupBy("lhs", "rhs")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_count)
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    joined = (
        pair_cnt.join(uni.select(F.col("__t").alias("lhs"), F.col("__c").alias("lhs_cnt")), "lhs")
        .join(uni.select(F.col("__t").alias("rhs"), F.col("__c").alias("rhs_cnt")), "rhs")
        .crossJoin(F.broadcast(n_row))
    )
    lift_num = d38(F.col("pair_cnt") - F.lit(delta)) * d38(F.col("__n")) * d38(F.lit(den))
    lift_den = d38(F.lit(num)) * d38(F.col("lhs_cnt")) * d38(F.col("rhs_cnt"))
    score = (
        (F.col("pair_cnt") - F.lit(delta)).cast("double") * F.col("__n").cast("double")
    ) / (F.col("lhs_cnt").cast("double") * F.col("rhs_cnt").cast("double"))
    return joined.select(
        "lhs",
        "rhs",
        "pair_cnt",
        "lhs_cnt",
        "rhs_cnt",
        score.alias("score"),
        ((F.col("pair_cnt") > F.lit(delta)) & (lift_num > lift_den)).alias("is_phrase"),
    )


# ---------------------------------------------------------------------------
# Positional index + exact phrase search
# ---------------------------------------------------------------------------


def positional_index(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Positional postings ``(id_col, pos, term)`` over the LM family's
    normalized non-empty whitespace tokens — the boolean/phrase-query
    companion to the BM25 ranked index (an IR engine keeps both: tf for
    ranking, positions for phrase and proximity operators). Token
    staging goes behind a barrier (the tokenize_stage rule); positions
    are 0-based. Persistable as a table exactly like
    :class:`Bm25Index`'s postings — build at ingest, filter by term at
    query time (the term predicate prunes the scan)."""
    from kafka_workers_spark.operators.dedup import barrier

    toks = F.filter(tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0)
    staged = barrier(docs.select(id_col, toks.alias("__toks")))
    return staged.select(
        id_col, F.posexplode("__toks").alias("pos", "term")
    ).select(id_col, F.col("pos").cast("bigint").alias("pos"), "term")


def phrase_search(
    index, phrase: list[str], id_col: str = "doc_id"
) -> "DataFrame":
    """Exact phrase occurrences via the positional index: term ``i`` of
    the phrase must appear at ``start + i``, so the match is a k-way
    equi-join of term-filtered posting lists on ``(id, shifted pos)`` —
    the classic positional-intersection plan (Manning/Raghavan/Schütze,
    IIR §2.4). Each join side is one term's postings (the term filter
    prunes the index scan); no payloads, no window, no Python. Returns
    ``(id_col, n_matches)`` for documents with at least one occurrence
    (n_matches = distinct start positions).

    Scale shape: intersection cost is bounded by the RAREST term's
    posting list once the optimizer reorders the equi-joins (feed the
    rarest first for a guaranteed bound); at web scale this is the
    standard two-term-then-verify plan. Repeated phrase terms are fine
    — each instance joins at its own offset."""
    if not phrase:
        raise ValueError("phrase must have at least one term")
    base = index.filter(F.col("term") == phrase[0]).select(
        id_col, F.col("pos").alias("__p")
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = index.filter(F.col("term") == t).select(
            id_col, (F.col("pos") - i).alias("__p")
        )
        base = base.join(nxt, [id_col, "__p"])
    return base.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_matches"))


def proximity_search(
    index,
    term_a: str,
    term_b: str,
    window: int = 8,
    id_col: str = "doc_id",
) -> "DataFrame":
    """Within-``window`` co-occurrence over the positional index (the
    proximity operator of IIR §2.4.2 — "near(a, b, w)" ranking/filter
    primitive): per document, the pairs of positions ``(pa, pb)`` with
    ``|pa − pb| <= window`` — ``n_pairs`` plus the tightest distance
    ``min_dist``. For ``term_a == term_b`` pairs are unordered
    (``pa < pb``), so self-proximity counts each pair once.

    Scale shape: positions band into width-``window`` buckets and the
    two posting lists equi-join on ``(id, bucket)`` with one side
    exploded to its 3 adjacent buckets — a pair within ``window`` is
    never more than one bucket away, each true pair lands in EXACTLY
    one (its pb's bucket), and the join never crosses documents or
    distant buckets, so hot terms cost bucket-local work instead of a
    per-doc tf(a)×tf(b) cross. The exact ``|pa − pb| <= window`` filter
    runs on bucket-collided candidates only."""
    if window < 1:
        raise ValueError(f"window ({window}) must be >= 1")
    a = index.filter(F.col("term") == term_a).select(
        id_col,
        F.col("pos").alias("__pa"),
        F.explode(
            F.array(
                F.expr(f"pos DIV {window} - 1"),
                F.expr(f"pos DIV {window}"),
                F.expr(f"pos DIV {window} + 1"),
            )
        ).alias("__bkt"),
    )
    b = index.filter(F.col("term") == term_b).select(
        id_col, F.col("pos").alias("__pb"), F.expr(f"pos DIV {window}").alias("__bkt")
    )
    pairs = a.join(b, [id_col, "__bkt"]).filter(
        F.abs(F.col("__pa") - F.col("__pb")) <= window
    )
    if term_a == term_b:
        pairs = pairs.filter(F.col("__pa") < F.col("__pb"))
    else:
        pairs = pairs.filter(F.col("__pa") != F.col("__pb"))
    return pairs.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min(F.abs(F.col("__pa") - F.col("__pb"))).cast("bigint").alias("min_dist"),
    )


def boolean_search(
    index,
    all_terms: list[str] | None = None,
    any_terms: list[str] | None = None,
    none_terms: list[str] | None = None,
    id_col: str = "doc_id",
) -> "DataFrame":
    """Boolean retrieval over the positional index (IIR §1: AND / OR /
    NOT): documents containing ALL of ``all_terms``, at least one of
    ``any_terms``, and none of ``none_terms``. Pure posting-list
    algebra — AND is one term-filtered aggregate requiring
    ``count(distinct term) == len(all_terms)``, OR a semi-join, NOT an
    anti-join — no text rescans, no arrays, no windows. Returns
    ``(id_col,)`` matching documents.

    Scale: each clause prunes the index scan by its term predicate; the
    AND aggregate is partial-aggregatable on (id, term) pairs. Rarest
    term first is automatic — the aggregate touches only postings of
    the queried terms."""
    if not (all_terms or any_terms):
        raise ValueError("boolean_search needs all_terms and/or any_terms")
    docs = None
    if all_terms:
        docs = (
            index.filter(F.col("term").isin(list(all_terms)))
            .groupBy(id_col)
            .agg(F.count_distinct("term").alias("__hit"))
            .filter(F.col("__hit") == len(set(all_terms)))
            .select(id_col)
        )
    if any_terms:
        anyd = index.filter(F.col("term").isin(list(any_terms))).select(id_col).distinct()
        docs = anyd if docs is None else docs.join(anyd, id_col, "left_semi")
    if none_terms:
        notd = index.filter(F.col("term").isin(list(none_terms))).select(id_col).distinct()
        docs = docs.join(notd, id_col, "left_anti")
    return docs


#: posindex_write layout version — bump on any table-schema change so
#: posindex_read can refuse a layout it does not understand instead of
#: mis-joining silently (the _BM25_INDEX_VERSION discipline)
_POSINDEX_VERSION = 1


def posindex_write(index, path: str, id_col: str = "doc_id", mode: str = "error") -> None:
    """Persist a :func:`positional_index` postings frame as parquet under
    ``path`` — the ``postings`` table plus a one-row ``meta`` table
    carrying ``id_col`` and a layout version. This is the at-rest half
    the :func:`positional_index` docstring promises (build at ingest,
    write once, phrase/proximity/boolean queries start from
    :func:`posindex_read`), completing the stored-index trio with
    :func:`bm25_write_index` and similarity.ann_write_index. Reference
    analog: the stored offsets contract
    (impl/offsets/DefaultOffsetsState.java — state that survives process
    restart). ``mode`` passes through to the parquet writer."""
    index.select(id_col, "pos", "term").write.mode(mode).parquet(f"{path}/postings")
    store.write_meta(
        index.sparkSession, path, "id_col string", (id_col,), _POSINDEX_VERSION, mode
    )


def posindex_read(spark, path: str):
    """Load a stored positional index written by :func:`posindex_write`.
    Returns ``(postings, id_col)``. The only driver-side read is the
    one-row meta table (the bm25_read_index pattern); the postings frame
    stays a lazy parquet scan, so a phrase query's ``term = 'x'``
    predicate still pushes into the postings scan and prunes it to the
    queried terms' posting lists."""
    meta = store.read_meta(spark, path, _POSINDEX_VERSION, "posindex_read")
    return spark.read.parquet(f"{path}/postings"), meta.id_col


def posindex_merge(a, b, id_col: str = "doc_id"):
    """Merge two positional indexes over DISJOINT document sets — the
    ingest-batch rollup (the bm25_merge_index twin). Positions are
    per-document, so the merge is a postings union; overlapping ids
    would duplicate postings (phrase counts double, proximity pairs
    cross batches), so the union carries an in-plan raise_error guard:
    one id-intersection aggregate (distinct ids only, never postings),
    broadcast onto the merged frame as a one-row cross join and
    evaluated at the first search — the package's lazy-guard
    discipline. Exact: merged == an index built over the union corpus
    in one pass (unit-pinned)."""
    overlap = (
        a.select(id_col)
        .distinct()
        .join(b.select(id_col).distinct(), id_col)
        .groupBy()
        .agg(F.count("*").alias("__dup"))
    )
    merged = a.unionByName(b).crossJoin(F.broadcast(overlap))
    return merged.select(
        F.when(F.col("__dup") == 0, F.col(id_col))
        .otherwise(
            F.raise_error(
                F.lit(
                    "posindex_merge: the two indexes share document ids — "
                    "postings would duplicate; dedup the batches first"
                )
            ).cast(merged.schema[id_col].dataType)
        )
        .alias(id_col),
        "pos",
        "term",
    )


#: Cavnar-Trenkle profile size: top-R trigrams per class and per doc
CT_PROFILE_SIZE = 50


def ngram_langid_score(
    docs,
    ref_docs,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    profile_size: int = CT_PROFILE_SIZE,
):
    """Char-n-gram rank-profile language ID (Cavnar & Trenkle, "N-Gram-
    Based Text Categorization", SDAIR 1994) — the training-based
    companion to the lexicon-overlap ``text_language_id`` row: each
    class keeps its top-``profile_size`` char TRIGRAMS ranked by
    frequency (count desc, trigram asc — deterministic), each document
    builds the same profile over itself, and the class distance is the
    out-of-place measure Σ |doc_rank − class_rank| with a flat
    ``profile_size`` penalty for trigrams missing from the class
    profile. Every quantity is an exact integer (ranks, counts,
    absolute differences), so the WHOLE method — profiles, distances,
    argmin — replays in ANSI SQL. Trigrams run over :func:`normalized`
    text including spaces (word-boundary trigrams carry the signal CT
    exploits). Prediction ties break to the smallest label.

    Returns one row per scored document: ``(id_col, predicted, dist)``.

    Shape at scale: class profiles are labels × profile_size rows —
    broadcast at any corpus size (the NB/DSIR model discipline);
    per-doc profiles are one trigram aggregate + a partitioned
    rank window (documents are small); scoring crosses each doc's
    ≤ profile_size trigram rows with the label list and left-joins the
    broadcast profiles — no token-keyed shuffle.
    """
    from kafka_workers_spark.operators.dedup import barrier

    if profile_size < 1:
        raise ValueError(f"profile_size ({profile_size}) must be >= 1")

    def trigrams(frame, keys):
        staged = barrier(
            frame.select(*keys, normalized(F.col(text_col)).alias("__nt")).filter(
                F.length("__nt") >= 3
            )
        )
        # substring over a materialized plain column — cheap per element
        tri = F.transform(
            F.sequence(F.lit(1), F.length("__nt") - 2),
            lambda i: F.col("__nt").substr(i, F.lit(3)),
        )
        return staged.select(*keys, F.explode(tri).alias("__tri"))

    def ranked(frame, keys):
        cnt = trigrams(frame, keys).groupBy(*keys, "__tri").agg(
            F.count("*").alias("__c")
        )
        w = W.partitionBy(*keys).orderBy(F.desc("__c"), F.asc("__tri"))
        return (
            cnt.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= profile_size)
            .select(*keys, "__tri", "__rank")
        )

    class_prof = ranked(
        ref_docs.where(F.col(label_col).isNotNull()).select(
            F.col(label_col).alias("__label"), F.col(text_col)
        ),
        ["__label"],
    )
    doc_prof = ranked(docs.select(id_col, text_col), [id_col])
    labels = class_prof.select("__label").distinct()
    scored = (
        doc_prof.crossJoin(F.broadcast(labels))
        .join(
            F.broadcast(class_prof.withColumnRenamed("__rank", "__crank")),
            ["__label", "__tri"],
            "left",
        )
        .select(
            id_col,
            "__label",
            F.coalesce(
                F.abs(F.col("__rank") - F.col("__crank")), F.lit(profile_size)
            ).alias("__d"),
        )
        .groupBy(id_col, "__label")
        .agg(F.sum("__d").cast("bigint").alias("__dist"))
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct(F.col("__dist"), F.col("__label"))).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.__label").alias("predicted"),
        F.col("__b.__dist").alias("dist"),
    )


def chi2_terms(
    docs,
    label_col: str,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Chi-square feature selection (Manning/Raghavan/Schütze, IIR
    §13.5.2 — the classic term-label association ranking that feeds a
    NB/logistic feature set): for every (term, label), the 2×2
    contingency table of document-level presence (N11 term∧label, N10
    term∧¬label, N01 ¬term∧label, N00 neither) and
    ``χ² = N·(N11·N00 − N10·N01)² / ((N11+N01)(N11+N10)(N10+N00)(N01+N00))``,
    keeping the ``top_k`` terms per label (ties broken by term).

    Exactness: every margin is an exact integer count; χ² is ONE
    fixed-order IEEE expression over those ints (difference squared in
    double, one division — no float aggregate, no transcendentals), so
    it replays bit-identically cross-engine. Terms present in all or no
    documents are excluded (their table degenerates; χ² undefined).

    Shape at scale: one tokenize+explode into a (term, label) hash
    aggregate, a vocabulary-sized term-df aggregate joined back on the
    term, and two broadcast one-row/label-count frames; the final
    ranking windows over labels — label count × top_k output. Document
    counts must fit the double-exact range for the squared difference
    (|N11·N00 − N10·N01| ≤ N² < 2^26.5 per engine-exact squaring; at
    larger corpora compute per-shard and merge counts first)."""
    from kafka_workers_spark.operators.dedup import barrier

    if top_k < 1:
        raise ValueError(f"top_k ({top_k}) must be >= 1")
    toks = F.array_distinct(
        F.filter(tokens(normalized(F.col(text_col))), lambda t: F.length(t) > 0)
    )
    staged = barrier(docs.select(id_col, F.col(label_col).alias("__lbl"), toks.alias("__toks")))
    tl = staged.select("__lbl", F.explode("__toks").alias("__term"))
    n11 = tl.groupBy("__term", "__lbl").agg(F.count("*").cast("bigint").alias("n11"))
    tdf = tl.groupBy("__term").agg(F.count("*").cast("bigint").alias("__tdf"))
    lbl = staged.groupBy("__lbl").agg(F.count("*").cast("bigint").alias("__ln"))
    tot = staged.groupBy().agg(F.count("*").cast("bigint").alias("__N"))
    base = (
        n11.join(tdf, "__term")
        .join(F.broadcast(lbl), "__lbl")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("__tdf") > 0) & (F.col("__tdf") < F.col("__N")))
    )
    n10 = F.col("__tdf") - F.col("n11")
    n01 = F.col("__ln") - F.col("n11")
    n00 = F.col("__N") - F.col("__tdf") - n01
    diff = (F.col("n11") * n00 - n10 * n01).cast("double")
    chi2 = (
        F.col("__N").cast("double")
        * diff
        * diff
        / (
            (F.col("n11") + n01).cast("double")
            * (F.col("n11") + n10).cast("double")
            * (n10 + n00).cast("double")
            * (n01 + n00).cast("double")
        )
    )
    scored = base.select(
        F.col("__lbl").alias("label"),
        F.col("__term").alias("term"),
        F.col("n11"),
        n10.alias("n10"),
        n01.alias("n01"),
        n00.alias("n00"),
        chi2.alias("chi2"),
    )
    w = W.partitionBy("label").orderBy(F.col("chi2").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
    )


# ---------------------------------------------------------------------------
# Repetition screens (Gopher-style quality filters — Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------


def repetition_screen(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition statistics — the Gopher/MassiveText
    repetition filters (Rae et al. 2021, Appendix A1.1: "fraction of
    duplicate n-grams", "fraction of characters in most common n-gram"),
    token-level and exact-integer so the screen replays cross-engine:

    - ``n_tokens``; ``n_grams`` = n_tokens − n + 1 (0 when too short);
    - ``n_distinct_grams``, ``top_gram_count`` (the modal n-gram's
      multiplicity), ``dup_gram_tokens`` (Σ multiplicity over n-grams
      occurring more than once — gram INSTANCES inside repeated grams);
    - ``top_gram_frac`` = top_gram_count·n / n_tokens and
      ``dup_gram_frac`` = dup_gram_tokens / n_grams, each ONE IEEE
      division of exact longs (the transition_matrix float rule), NULL
      when the denominator is 0.

    A training-data pipeline thresholds these (Gopher drops docs with
    dup_2gram_frac > 0.2); this operator emits the raw screen so the
    threshold stays a policy, not a baked-in constant. The reference has
    no content surface (opaque payloads, api/record/WorkerRecord.java) —
    engine extension, the text-quality family.

    Scale shape: tokenize stage (one exchange), one explode → hash
    aggregate keyed (doc, gram) — partial aggregation absorbs the
    per-doc repetition BEFORE the shuffle, so the shuffled rows are
    distinct (doc, gram) pairs, not gram instances — then one aggregate
    keyed (doc). Short docs survive via explode_outer (a NULL-gram row
    that the aggregates ignore); payloads never ride past the tokenize
    stage."""
    if n < 1:
        raise ValueError(f"n ({n}) must be >= 1")
    staged = tokenize_stage(docs.select(id_col, text_col), text_col)
    grams = staged.select(
        id_col,
        F.size("toks").cast("bigint").alias("__nt"),
        F.explode_outer(word_shingles(F.col("toks"), n)).alias("__g"),
    )
    counts = grams.groupBy(id_col, "__nt", "__g").agg(
        F.count("*").cast("bigint").alias("__c")
    )
    isg = F.col("__g").isNotNull()
    agg = counts.groupBy(id_col, "__nt").agg(
        F.coalesce(F.sum(F.when(isg, F.col("__c"))), F.lit(0))
        .cast("bigint")
        .alias("n_grams"),
        F.coalesce(F.count(F.when(isg, F.lit(1))), F.lit(0))
        .cast("bigint")
        .alias("n_distinct_grams"),
        F.coalesce(F.max(F.when(isg, F.col("__c"))), F.lit(0))
        .cast("bigint")
        .alias("top_gram_count"),
        F.coalesce(F.sum(F.when(isg & (F.col("__c") > 1), F.col("__c"))), F.lit(0))
        .cast("bigint")
        .alias("dup_gram_tokens"),
    )
    return agg.select(
        id_col,
        F.col("__nt").alias("n_tokens"),
        "n_grams",
        "n_distinct_grams",
        "top_gram_count",
        "dup_gram_tokens",
        F.when(
            F.col("__nt") > 0,
            (F.col("top_gram_count") * n).cast("double") / F.col("__nt").cast("double"),
        ).alias("top_gram_frac"),
        F.when(
            F.col("n_grams") > 0,
            F.col("dup_gram_tokens").cast("double") / F.col("n_grams").cast("double"),
        ).alias("dup_gram_frac"),
    )


def sql_repetition_screen(n: int = 2, from_clause: str = "FROM documents") -> str:
    """DuckDB rendering of :func:`repetition_screen` — same tokenizer,
    same shingles, same single-division fractions."""
    sh = sql_word_shingles("toks", n)
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks {from_clause}
    ), g AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, unnest({sh}) AS gram
      FROM (SELECT doc_id, toks FROM t)
    ), c AS (
      SELECT doc_id, n_tokens, gram, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY 1, 2, 3
    ), a AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(cnt) AS BIGINT) AS n_grams,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
             CAST(MAX(cnt) AS BIGINT) AS top_gram_count,
             CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT) AS dup_gram_tokens
      FROM c GROUP BY 1, 2
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_distinct_grams, 0) AS n_distinct_grams,
           COALESCE(a.top_gram_count, 0) AS top_gram_count,
           COALESCE(a.dup_gram_tokens, 0) AS dup_gram_tokens,
           CASE WHEN len(t.toks) > 0 THEN
             CAST(COALESCE(a.top_gram_count, 0) * {n} AS DOUBLE) / CAST(len(t.toks) AS BIGINT)
           END AS top_gram_frac,
           CASE WHEN COALESCE(a.n_grams, 0) > 0 THEN
             CAST(a.dup_gram_tokens AS DOUBLE) / a.n_grams
           END AS dup_gram_frac
    FROM t LEFT JOIN a ON t.doc_id = a.doc_id
    """
