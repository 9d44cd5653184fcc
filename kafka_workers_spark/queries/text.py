"""Text-analysis queries over the `documents` table (SURVEY.md §7 step 6).

Language-ID, quality scoring, token counting/array analytics and document
fingerprinting — the per-document scoring passes of a training-data
pipeline. All are pure column expressions (whole-stage codegen, no Python
in the hot path): at 100 TB these run as a single scan with column pruning
and NO shuffle (operators.dedup.spread only repartitions when the input has
fewer splits than the session's parallelism — never on a real-scale scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_workers_spark.operators.text import (
    BPE_SPLIT_RE,
    STOPWORDS,
    cjk_char_count,
    normalized,
    sql_cjk_char_count,
    sql_normalized,
    sql_stopword_hits,
    sql_word_shingles,
    stopword_hits,
    tokens,
)
from kafka_workers_spark.operators.dedup import spread
from kafka_workers_spark.queries import register
from kafka_workers_spark.sources.files import load_table

_TOKS_SQL = "string_split(text, ' ')"


@register(
    "text_profile",
    f"""
    SELECT doc_id, n_tokens, n_bpe_tokens,
           CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
           stop_hits,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           alpha_ratio, len_score,
           0.4 * len_score + 0.3 * least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 1.0)
             + 0.3 * alpha_ratio AS quality,
           first_token, n_distinct_tokens, has_spark, vocab
    FROM (
      SELECT doc_id, n_chars,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
             {sql_stopword_hits(_TOKS_SQL, STOPWORDS["en"])} AS stop_hits,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / n_chars AS alpha_ratio,
             least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score,
             ({_TOKS_SQL})[1] AS first_token,
             CAST(len(list_distinct({_TOKS_SQL})) AS BIGINT) AS n_distinct_tokens,
             list_contains({_TOKS_SQL}, 'spark') AS has_spark,
             array_to_string(list_sort(list_distinct({_TOKS_SQL})), ',') AS vocab
      FROM documents
    )
    """,
    category="text",
    windowed=False,  # rotated out round 10 (VERDICT r09 #1)
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile in one codegen'd scan: whitespace + BPE-style
    token counts, quality heuristics (length, stopword density, alphabetic
    ratio — the standard cheap pre-filters before model scoring), and the
    token-array analytics surface (first/distinct/contains/sorted-vocab).

    The token expression is referenced by several output columns; that is a
    constant-factor recompute per row (CollapseProject inlines the split),
    NOT the per-element quadratic of lambda-internal reuse — cheaper at
    scale than materializing tokens through a full-corpus shuffle. Fixed
    operand order keeps the double arithmetic bit-identical to the oracle.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    stop_hits = stopword_hits(toks, STOPWORDS["en"])
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double") / F.col("n_chars")
    )
    len_score = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    base = d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), 0)).cast("bigint").alias("n_bpe_tokens"),
        stop_hits.alias("stop_hits"),
        alpha_ratio.alias("alpha_ratio"),
        len_score.alias("len_score"),
        toks.getItem(0).alias("first_token"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.array_sort(F.array_distinct(toks)), ",").alias("vocab"),
    )
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("chars_per_token"),
        "stop_hits",
        stop_ratio.alias("stop_ratio"),
        "alpha_ratio",
        "len_score",
        (
            0.4 * F.col("len_score")
            + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
            + 0.3 * F.col("alpha_ratio")
        ).alias("quality"),
        "first_token",
        "n_distinct_tokens",
        "has_spark",
        "vocab",
    )


def _sql_langid_scores() -> str:
    cols = [f"{sql_stopword_hits(_TOKS_SQL, lex)} AS score_{lang}" for lang, lex in STOPWORDS.items()]
    return ",\n           ".join(cols)


@register(
    "text_language_id",
    f"""
    SELECT doc_id, score_en, score_de, score_es, score_fr, n_cjk,
           CASE WHEN n_cjk > 0 THEN 'zh'
                WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM (
      SELECT doc_id,
             {_sql_langid_scores()},
             {sql_cjk_char_count('text')} AS n_cjk
      FROM documents
    )
    """,
    category="text",
    windowed=False,  # rotated out round 10 (VERDICT r09 #1)
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID (CJK by codepoint class, Latin languages
    by function-word hits, deterministic tie order en>de>es>fr, 'und' when
    no evidence). The synthetic corpus shares one vocabulary across its
    `lang` labels, so agreement with the label is not the contract — the
    deterministic heuristic is."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        *[stopword_hits(toks, lex).alias(f"score_{lang}") for lang, lex in STOPWORDS.items()],
        cjk_char_count(F.col("text")).alias("n_cjk"),
    )
    s = {lang: F.col(f"score_{lang}") for lang in STOPWORDS}
    pred = (
        F.when(F.col("n_cjk") > 0, "zh")
        .when(F.greatest(*s.values()) == 0, "und")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", "score_en", "score_de", "score_es", "score_fr", "n_cjk", pred.alias("pred_lang")
    )


_NORM_SQL = sql_normalized("text")
_SHINGLES_SQL = sql_word_shingles(_TOKS_SQL, 3)


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS content_hash,
           CAST(len({_SHINGLES_SQL}) AS BIGINT) AS n_shingles,
           list_aggregate([md5(sh) FOR sh IN {_SHINGLES_SQL}], 'min') AS min_shingle_hash
    FROM documents
    """,
    category="text",
    windowed=False,  # rotated out round 9 — oracle-checked by tests/test_oracle_extra.py
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the normalized text (exact identity)
    plus the minimum 3-word-shingle hash (a 1-hash MinHash — the cheapest
    content-similarity blocking key). Staged: tokenize → shingle →
    explode + codegen'd MIN aggregate (interpreted array lambdas would
    re-hash per reference; see operators/dedup.barrier)."""
    from kafka_workers_spark.operators.text import shingle_stage, tokenize_stage

    d = load_table(spark, sf_dir, "documents")
    staged = shingle_stage(
        tokenize_stage(
            d.select("doc_id", "text"),
            extra={"content_hash": F.md5(normalized(F.col("text")))},
        ),
        3,
    )
    exploded = staged.select(
        "doc_id",
        "content_hash",
        F.size("shingles").cast("bigint").alias("n_shingles"),
        F.explode_outer("shingles").alias("__sh"),
    )
    return exploded.groupBy("doc_id", "content_hash", "n_shingles").agg(
        F.min(F.md5("__sh")).alias("min_shingle_hash")
    )


_PARA_SQL_NEWLINE = "chr(10)"


@register(
    "text_dedup_paragraphs",
    f"""
    WITH splitted AS (
      SELECT doc_id, string_split(text, {_PARA_SQL_NEWLINE}) AS parts FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             UNNEST([{{'pos': i - 1, 'para': parts[i]}}
                     FOR i IN generate_series(1, len(parts))],
                    recursive := true)
      FROM splitted
    ),
    marked AS (
      SELECT *, length(trim(para)) >= 1 AS meaningful, md5(para) AS digest
      FROM exploded
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id, pos) AS rn
      FROM marked
    )
    SELECT doc_id,
           COALESCE(string_agg(para, {_PARA_SQL_NEWLINE} ORDER BY pos)
                    FILTER (WHERE (NOT meaningful) OR rn = 1), '') AS text,
           COUNT(*) AS n_paragraphs,
           COUNT(*) FILTER (WHERE meaningful AND rn > 1) AS n_dropped
    FROM ranked GROUP BY doc_id
    """,
    category="text",
)
def text_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide paragraph dedup (operators.text.dedup_paragraphs,
    Raffel et al. 2020 §2.2): every repeated paragraph keeps only its
    first (doc, position) occurrence; documents reassemble in original
    order with per-doc drop counts. Rotated into the driver window in
    round 5 (VERDICT r04 #4) after its skew-safe rewrite: the
    first-occurrence decision is a min(struct) PARTIAL AGGREGATE over
    meaningful paragraphs only — no corpus-wide digest window, so hot
    boilerplate digests cost one row per map partition (plan-asserted in
    tests/test_text_quality.py)."""
    from kafka_workers_spark.operators.text import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_paragraphs(docs)


_TFIDF_QUERIES = [0, 1, 2, 3]
_TFIDF_TOP_K = 5
_TFIDF_MAX_DF = 0.8  # synthetic docs share template vocabulary; 0.5 starves queries


@register(
    "text_tfidf_topk",
    f"""
    WITH toked AS (
      SELECT doc_id, UNNEST(string_split({sql_normalized('text')}, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toked
      WHERE length(term) > 0 GROUP BY 1, 2
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    kept AS (
      SELECT term, df FROM dft, nd
      WHERE df >= 1 AND df <= CAST(floor({_TFIDF_MAX_DF} * n) AS BIGINT)
    ),
    w AS (
      SELECT doc_id, tf.term,
             tf * CAST(floor(1000000.0 * ln(CAST(n + 1 AS DOUBLE) / (df + 1))
                            + 1000000.0) AS BIGINT) AS w6
      FROM tf JOIN kept ON tf.term = kept.term, nd
    ),
    norms AS (SELECT doc_id, SUM(w6 * w6) AS norm6 FROM w GROUP BY 1),
    q AS (SELECT doc_id AS query_id, term, w6 AS qw6 FROM w
          WHERE doc_id IN ({', '.join(map(str, _TFIDF_QUERIES))})),
    dots AS (
      SELECT query_id, w.doc_id, SUM(qw6 * w6) AS dot6
      FROM w JOIN q ON w.term = q.term AND w.doc_id <> q.query_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.query_id, dots.doc_id,
             CAST(dot6 AS DOUBLE)
               / sqrt(CAST(qn.norm6 AS DOUBLE) * CAST(cn.norm6 AS DOUBLE)) AS cosine
      FROM dots
      JOIN norms qn ON qn.doc_id = dots.query_id
      JOIN norms cn ON cn.doc_id = dots.doc_id
    )
    SELECT query_id, rank, doc_id AS neighbor_id, cosine FROM (
      SELECT query_id, doc_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_TFIDF_TOP_K}
    """,
    category="text",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k (operators.text.tfidf_topk) — IR-style
    text search with no embedding model: inverted-index term join, exact
    fixed-point integer dots, df window bounded by max_df. N derives
    IN-PLAN from the tf aggregate (count of distinct tokenized docs —
    mirrored exactly by the oracle's nd CTE), so the build runs no eager
    job (VERDICT r04 #3). Rotated into the driver window in round 5."""
    from kafka_workers_spark.operators.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(
        docs, _TFIDF_QUERIES, top_k=_TFIDF_TOP_K, max_df_fraction=_TFIDF_MAX_DF
    )


# ---------------------------------------------------------------------------
# Off-window text-operator queries (rotation currency — same QuerySpec
# contract, oracle run by tests/test_oracle_extra.py's rotated-query test)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8
_CHUNK_STEP = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "text_chunks",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
    ),
    st AS (
      SELECT doc_id, toks,
             UNNEST([s FOR s IN generate_series(
               0, greatest(len(toks) - 1 - {_CHUNK_OVERLAP}, 0), {_CHUNK_STEP})]) AS start
      FROM toked
    )
    SELECT doc_id,
           CAST(start / {_CHUNK_STEP} AS INT) AS chunk_id,
           array_to_string(toks[start + 1 : start + {_CHUNK_TOKENS}], ' ') AS chunk_text,
           CAST(len(toks[start + 1 : start + {_CHUNK_TOKENS}]) AS BIGINT) AS chunk_n_tokens
    FROM st
    """,
    category="text",
    windowed=False,
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators.text.chunk_documents):
    {_CHUNK_TOKENS}-token chunks with {_CHUNK_OVERLAP}-token overlap, the
    pre-tokenization pass that turns long documents into
    training-sequence-sized pieces. The oracle replays the start-sequence
    arithmetic (including the no-pure-suffix-tail cap) and the slice
    joins exactly. One scan, per-row fan-out ~n_tokens/step, no shuffle."""
    from kafka_workers_spark.operators.text import chunk_documents

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        d, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    ).select("doc_id", "chunk_id", "chunk_text", "chunk_n_tokens")


_LINES_SQL = "string_split(text, chr(10))"


@register(
    "text_gopher_quality",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks, {_LINES_SQL} AS lines
      FROM documents WHERE text IS NOT NULL
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n,
             greatest(len(toks), 1) AS n1,
             greatest(len(lines), 1) AS n_lines,
             CAST(list_sum([length(t) FOR t IN toks]) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_word_len,
             len(list_filter(lines, ln -> starts_with(ln, '- ')
                                          OR starts_with(ln, '* '))) AS bullet_like,
             len(list_filter(lines, ln -> suffix(ln, '...'))) AS ellipsis_like,
             len(list_filter(toks, t -> contains(t, '#')
                                        OR contains(t, '...'))) AS hash_or_ellipsis,
             len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha_words,
             {sql_stopword_hits('toks', STOPWORDS['en'])} AS stop_hits,
             CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
               / greatest(len(lines), 1) AS dup_line_frac
      FROM base
    )
    SELECT doc_id,
           n >= 50 AND n <= 100000 AS rule_word_count,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS rule_mean_word_len,
           CAST(hash_or_ellipsis AS DOUBLE) / n1 <= 0.1 AS rule_symbol_ratio,
           CAST(bullet_like AS DOUBLE) / n_lines <= 0.9 AS rule_bullet_lines,
           CAST(ellipsis_like AS DOUBLE) / n_lines <= 0.3 AS rule_ellipsis_lines,
           CAST(alpha_words AS DOUBLE) / n1 >= 0.8 AS rule_alpha_words,
           stop_hits >= 2 AS rule_stopword_presence,
           dup_line_frac <= 0.3 AS rule_dup_lines
    FROM m
    """,
    category="text",
    windowed=False,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-scan Gopher quality rules (operators.text.gopher_rules,
    Rae et al. 2021 §A1.1) as per-document boolean columns — the exact
    decision surface gopher_filter conjuncts. The oracle recomputes every
    ratio with the same integer counts and double divisions, so the
    booleans (including threshold-boundary cases) are bit-identical.
    One scan, codegen subexpression elimination shares the token/line
    subtrees, no shuffle."""
    from kafka_workers_spark.operators.text import gopher_rules

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.filter(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    rs = gopher_rules(F.col("text"), toks)
    return d.select("doc_id", *[c.alias(name) for name, c in rs.items()])


_REP_N = 2


@register(
    "text_ngram_repetition",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, UNNEST(COALESCE(
               [md5(g) FOR g IN {sql_word_shingles('toks', _REP_N)}],
               [CAST(NULL AS VARCHAR)])) AS gh
      FROM toked
    ),
    per_gram AS (
      SELECT doc_id, gh, COUNT(*) AS c FROM grams GROUP BY doc_id, gh
    )
    SELECT doc_id,
           CAST(COALESCE(SUM(c) FILTER (WHERE gh IS NOT NULL), 0) AS BIGINT) AS n_ngrams,
           CAST(COUNT(gh) AS BIGINT) AS n_distinct_ngrams,
           CAST(COALESCE(MAX(c) FILTER (WHERE gh IS NOT NULL), 0) AS BIGINT) AS top_ngram_count
    FROM per_gram GROUP BY doc_id
    """,
    category="text",
    windowed=False,
)
def text_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram statistics
    (operators.text.duplicate_ngram_metrics, n={_REP_N}): total /
    distinct / most-frequent n-gram counts, from which the Gopher
    repetition thresholds derive (dup_ngram_frac = 1 - distinct/total,
    top_ngram_frac = top/total). Null-safety parity: a document with
    fewer than {_REP_N} tokens reads as ZERO n-grams on both engines.
    Explode → two-level codegen aggregate; the shuffle carries 16-byte
    gram digests, never text."""
    from kafka_workers_spark.operators.text import (
        duplicate_ngram_metrics,
        tokenize_stage,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicate_ngram_metrics(tokenize_stage(d), ["doc_id"], n=_REP_N)


_WIN_W = 4
_WIN_PREFIX = 16
_WIN_SH_SQL = sql_word_shingles("string_split(text, ' ')", 3)


@register(
    "text_winnowing",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN {_WIN_SH_SQL} IS NOT NULL
                  THEN [substr(md5(s), 1, {_WIN_PREFIX}) FOR s IN {_WIN_SH_SQL}]
             END AS h
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN h IS NOT NULL AND len(h) >= 1 THEN
             list_sort(list_distinct([
               list_aggregate(h[i : i + {_WIN_W - 1}], 'min')
               FOR i IN generate_series(1, greatest(len(h) - {_WIN_W - 1}, 1))]))
           END AS fp
    FROM base
    """,
    category="text",
    windowed=False,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (operators.text.winnowing_fingerprints,
    Schleimer/Wilkerson/Aiken SIGMOD'03): min-hash of each {_WIN_W}-wide
    window over the 3-word-shingle hash sequence, deduplicated — the
    position-robust partial-overlap fingerprint. Output sets are SORTED
    in both engines (a fingerprint set has no inherent order; DuckDB's
    list_distinct does not preserve one). Pure array expressions over a
    materialized shingle column — one scan, no shuffle."""
    from kafka_workers_spark.operators.text import (
        shingle_stage,
        tokenize_stage,
        winnowing_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = shingle_stage(tokenize_stage(d), 3)
    return staged.select(
        "doc_id",
        F.array_sort(
            winnowing_fingerprints(F.col("shingles"), window=_WIN_W, prefix_len=_WIN_PREFIX)
        ).alias("fp"),
    )


_SUB_K = 8  # window length for the testdata corpus (~50-token docs);
# the operator default is the paper's k=50 for web-scale text


@register(
    "text_dedup_substrings",
    f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE text IS NOT NULL
    ),
    occ AS (
      SELECT doc_id,
             UNNEST([{{'pos': i - 1,
                      'wh': substr(md5(array_to_string(toks[i:i+{_SUB_K - 1}], ' ')), 1, 16)}}
                     FOR i IN generate_series(1, len(toks) - {_SUB_K - 1})],
                    recursive := true)
      FROM base WHERE len(toks) >= {_SUB_K}
    ),
    ranked AS (
      SELECT doc_id, pos, wh,
             ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY wh) AS cnt
      FROM occ
    ),
    cov AS (
      SELECT doc_id,
             list_distinct(flatten(list(generate_series(pos, pos + {_SUB_K - 1})))) AS cov
      FROM ranked WHERE cnt > 1 AND rn > 1
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(array_to_string([b.toks[i] FOR i IN generate_series(1, len(b.toks))
                                     IF c.cov IS NULL OR NOT list_contains(c.cov, i - 1)],
                                    ' '), '') AS text,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(c.cov), 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN cov c USING (doc_id)
    """,
    category="text",
)
def text_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring dedup (operators.text.dedup_substrings,
    Lee et al. 2021 ExactSubstr, token-aligned): every corpus-duplicated
    run of >= k tokens keeps only its first occurrence; texts are
    reassembled around the cut spans. The oracle replays the semantics
    naively (a global ROW_NUMBER window over window-hash occurrences);
    the Spark operator computes the same first-occurrence verdict as a
    skew-safe min(struct) aggregate — identical output, different
    physical shape, which is exactly what the cross-engine check is
    for. k=8 here so the testdata's repeated sentences actually trip
    the path (the operator default is the paper's k=50). NULL-text rows
    are filtered on BOTH sides (matching text_chunks/text_gopher_quality)
    — the operator returns NULL text for them while the oracle's
    COALESCE yields '', so leaving them in would flip the gate red for a
    non-bug if testdata ever grows a NULL text row."""
    from kafka_workers_spark.operators.text import dedup_substrings

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    return dedup_substrings(d, k=_SUB_K)


_LM_TOKS_SQL = f"list_filter(string_split({sql_normalized('text')}, ' '), t -> len(t) > 0)"


@register(
    "text_lm_quality",
    f"""
    WITH base AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS toks FROM documents
    ),
    big AS (
      SELECT doc_id,
             UNNEST([{{'prev': toks[i], 'cur': toks[i+1]}}
                     FOR i IN generate_series(1, len(toks) - 1)],
                    recursive := true)
      FROM base WHERE len(toks) >= 2
    ),
    cb AS (
      SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
      FROM big WHERE doc_id % 2 = 0 GROUP BY prev, cur
    ),
    cc AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cc FROM cb GROUP BY prev)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.n_unseen, 0) AS BIGINT) AS n_unseen,
           CAST(COALESCE(s.sum_bigram_count, 0) AS BIGINT) AS sum_bigram_count,
           CAST(COALESCE(s.sum_context_count, 0) AS BIGINT) AS sum_context_count
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN (
      SELECT g.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END) AS n_unseen,
             SUM(COALESCE(cb.cb, 0)) AS sum_bigram_count,
             SUM(COALESCE(cc.cc, 0)) AS sum_context_count
      FROM big g
      LEFT JOIN cb ON g.prev = cb.prev AND g.cur = cb.cur
      LEFT JOIN cc ON g.prev = cc.prev
      GROUP BY g.doc_id
    ) s USING (doc_id)
    """,
    category="text",
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring
    (operators.text.bigram_lm_score, Wenzek et al. 2020): the model
    trains on the even-doc_id half of the corpus and scores EVERY
    document, so the unseen-transition path is exercised. The registered
    surface is the operator's exact-integer columns (transition counts);
    its float columns (avg_logprob/ppl) hit libm ln(), which differs
    across engines in the last ulp, so they are verified by the
    differential test against a Python reference model instead
    (tests/test_text_quality.py)."""
    from kafka_workers_spark.operators.text import bigram_lm_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    return bigram_lm_score(d, ref_docs=ref).select(
        "doc_id", "n_bigrams", "n_unseen", "sum_bigram_count", "sum_context_count"
    )


_KN_DN, _KN_DD = 3, 4  # absolute discount D = 3/4, the operator default
_KN_S = 1_000_000_000  # == operators.text.KN_SCALE (asserted in tests)


@register(
    "text_lm_kneser_ney",
    f"""
    WITH base AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS toks FROM documents
    ),
    big AS (
      SELECT doc_id,
             UNNEST([{{'prev': toks[i], 'cur': toks[i+1]}}
                     FOR i IN generate_series(1, len(toks) - 1)],
                    recursive := true)
      FROM base WHERE len(toks) >= 2
    ),
    cb AS (
      SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
      FROM big WHERE doc_id % 2 = 0 GROUP BY prev, cur
    ),
    ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS fwd FROM cb GROUP BY prev),
    ct AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS bwd FROM cb GROUP BY cur),
    tt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM cb)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.n_unseen_context, 0) AS BIGINT) AS n_unseen_context,
           CAST(COALESCE(s.n_unseen_bigram, 0) AS BIGINT) AS n_unseen_bigram,
           CAST(COALESCE(s.sum_p9, 0) AS BIGINT) AS sum_p9
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN (
      SELECT g.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN COALESCE(ctx.c1, 0) = 0 THEN 1 ELSE 0 END) AS n_unseen_context,
             SUM(CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END) AS n_unseen_bigram,
             SUM(CASE WHEN COALESCE(ctx.c1, 0) > 0 THEN
                   ((GREATEST({_KN_DD} * COALESCE(cb.cb, 0) - {_KN_DN}, 0)::HUGEINT * tt.t
                     + {_KN_DN}::HUGEINT * ctx.fwd * COALESCE(ct.bwd, 0)) * {_KN_S}::HUGEINT)
                   // ({_KN_DD}::HUGEINT * ctx.c1 * tt.t)
                 ELSE COALESCE(ct.bwd, 0)::HUGEINT * {_KN_S} // tt.t END) AS sum_p9
      FROM big g
      LEFT JOIN ctx ON g.prev = ctx.prev
      LEFT JOIN cb ON g.prev = cb.prev AND g.cur = cb.cur
      LEFT JOIN ct ON g.cur = ct.cur
      CROSS JOIN tt
      GROUP BY g.doc_id
    ) s USING (doc_id)
    """,
    category="text",
    # rotated INTO the driver window round 8 for value_decode_json
)
def text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring
    (operators.text.kneser_ney_score, Kneser & Ney 1995 / Chen & Goodman
    1998) under the text_lm_quality protocol: train on the even-doc_id
    half, score everything, register the exact-integer surface — here
    including ``sum_p9``, the per-document sum of floor(P × 10^9)
    scaled-integer probabilities, so the ENTIRE smoothing chain
    (absolute discount, continuation unigram, context backoff) is
    oracle-checked, not just the raw counts. Floats
    (avg_logprob/ppl) are differential-tested like the add-α LM's."""
    from kafka_workers_spark.operators.text import kneser_ney_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    return kneser_ney_score(d, ref_docs=ref, discount=(_KN_DN, _KN_DD)).select(
        "doc_id", "n_bigrams", "n_unseen_context", "n_unseen_bigram", "sum_p9"
    )


#: placeholder blocklist for the testdata corpus — real deployments pass
#: their policy list (normalized form) to the operator
_BLOCK_LEX = ("window", "merge", "join")
_BLOCK_MAX_FRACTION = 0.05
_BLOCK_TOKS_SQL = _LM_TOKS_SQL  # normalized non-empty whitespace tokens


@register(
    "text_blocklist",
    f"""
    SELECT doc_id, n_tokens, n_blocked,
           CASE WHEN n_tokens > 0
                THEN CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                ELSE 0.0 END AS blocked_fraction,
           (CASE WHEN n_tokens > 0
                 THEN CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 ELSE 0.0 END) <= {_BLOCK_MAX_FRACTION} AS keep
    FROM (
      SELECT doc_id,
             CAST(len({_BLOCK_TOKS_SQL}) AS BIGINT) AS n_tokens,
             {sql_stopword_hits(_BLOCK_TOKS_SQL, _BLOCK_LEX)} AS n_blocked
      FROM documents
    )
    """,
    category="text",
    windowed=False,
)
def text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist metrics + C4-style keep verdict
    (operators.text.blocklist_metrics / blocklist_filter, Raffel et al.
    2020 §2.2): hit counts and fractions over normalized tokens, with
    keep = fraction <= threshold. The placeholder lexicon picks
    high-frequency testdata words so both verdicts occur; the fraction
    divisions are fixed-operand-order doubles, bit-identical across
    engines (the text_profile discipline)."""
    from kafka_workers_spark.operators.text import blocklist_metrics, normalized, tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = blocklist_metrics(d, _BLOCK_LEX)
    toks = F.filter(tokens(normalized(F.col("text"))), lambda t: F.length(t) > 0)
    return m.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        "n_blocked",
        "blocked_fraction",
        (F.col("blocked_fraction") <= F.lit(_BLOCK_MAX_FRACTION)).alias("keep"),
    )


_DSIR_BUCKETS = 4096
_DSIR_TARGET_MOD = 10  # doc_id % 10 == 0 stands in for the target domain


@register(
    "text_dsir_weights",
    f"""
    WITH base AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS toks FROM documents
    ),
    fb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % {_DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id,
               UNNEST(toks || CASE WHEN len(toks) >= 2
                   THEN [toks[i] || ' ' || toks[i+1]
                         FOR i IN generate_series(1, len(toks) - 1)]
                   ELSE [] END) AS f
        FROM base
      )
    ),
    tc AS (SELECT b, COUNT(*) AS t FROM fb WHERE doc_id % {_DSIR_TARGET_MOD} = 0 GROUP BY b),
    qc AS (SELECT b, COUNT(*) AS q FROM fb GROUP BY b),
    agg AS (
      SELECT fb.doc_id, COUNT(*) AS n_feats,
             CAST(SUM(COALESCE(t, 0)) AS BIGINT) AS sum_target_count,
             CAST(SUM(COALESCE(q, 0)) AS BIGINT) AS sum_background_count
      FROM fb LEFT JOIN tc USING (b) LEFT JOIN qc USING (b)
      GROUP BY fb.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(sum_target_count, 0) AS BIGINT) AS sum_target_count,
           CAST(COALESCE(sum_background_count, 0) AS BIGINT) AS sum_background_count
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
    category="text",
    windowed=False,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance statistics
    (operators.text.dsir_weights, Xie et al. NeurIPS 2023
    arXiv:2302.03169): target model from the doc_id % {_DSIR_TARGET_MOD}
    == 0 domain sample, background from the whole corpus, features =
    unigrams + bigrams hashed to {_DSIR_BUCKETS} buckets via the
    md5-prefix integer (the sample_coin trick — SQL-replayable, unlike
    murmur). The oracle replays feature extraction, bucketing, both
    model count tables, and the per-document joins exactly; the columns
    are the exact-integer surface (feature count and summed
    target/background bucket counts — log_weight is libm ln(), so it is
    differential-tested against a Python reference in
    tests/test_text_quality.py instead, the text_lm_quality precedent).

    Scale shape: both models are ≤ n_buckets rows BY CONSTRUCTION, so
    they broadcast at any corpus size — scoring is scan → explode →
    two broadcast joins → one id-keyed partial aggregate; no token-keyed
    shuffle, hence no Zipf hot key (contrast bigram_lm_score's shuffle
    path)."""
    from kafka_workers_spark.operators.text import dsir_weights

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = d.filter(F.col("doc_id") % _DSIR_TARGET_MOD == 0)
    return dsir_weights(d, target, n_buckets=_DSIR_BUCKETS).select(
        "doc_id", "n_feats", "sum_target_count", "sum_background_count"
    )


@register(
    "text_bpe_pairs",
    """
    WITH words AS (
      SELECT UNNEST(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS word
      FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    pairs AS (
      SELECT n,
             UNNEST([{'lhs': word[i], 'rhs': word[i + 1]}
                     FOR i IN generate_series(1, len(word) - 1)],
                    recursive := true)
      FROM wc WHERE len(word) >= 2
    )
    SELECT lhs, rhs, CAST(SUM(n) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2
    """,
    category="text",
    windowed=False,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE pair statistics (operators.text.bpe_word_counts
    → bpe_pair_counts, Sennrich et al. ACL 2016): corpus-weighted
    adjacent-CHARACTER pair frequencies over the pre-token vocabulary —
    the table whose argmax is the first learned merge rule. (The merge
    LOOP itself is oracle-checked too since round 15 — text_bpe_train
    unrolls fixed rounds; this row stays as the full-table surface the
    argmax only samples.)

    Scale shape: the corpus collapses to its Zipf-bounded vocabulary in
    one partial-aggregatable shuffle; pair counting is array expressions
    + one hash aggregate over vocab-sized input. Every later training
    iteration reuses the same frame (see bpe_train)."""
    from kafka_workers_spark.operators.text import bpe_pair_counts, bpe_word_counts

    d = load_table(spark, sf_dir, "documents").select("text")
    syms = bpe_word_counts(d).select(F.split("word", "").alias("symbols"), "n")
    return bpe_pair_counts(syms).select(
        F.col("left").alias("lhs"), F.col("right").alias("rhs"), "cnt"
    )


_BPE_MERGES = 8


def _sql_bpe_ctes(n_merges: int) -> str:
    """Unroll the BPE merge rounds as CTEs — the _sql_shortest_ctes
    discipline applied to tokenizer training. Greedy left-to-right
    merge application is expressed STATELESSLY via run parity: matches
    of pair (l, r) can only overlap when l = r, and inside a maximal
    run of l's the greedy scan merges exactly the positions at EVEN
    offsets from the run start — so a window MAX over run breaks plus
    a parity test replays the scan without sequential state. The
    position after a selected merge is dropped via LAG(sel)."""
    ctes = [
        "w0 AS (SELECT UNNEST(regexp_extract_all(text,"
        " '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS word FROM documents)",
        "s0 AS (SELECT word, COUNT(*) AS n, string_split(word, '') AS symbols"
        " FROM w0 GROUP BY word)",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"p{k} AS (SELECT s.word, s.n, t.i, s.symbols[t.i] AS a,"
            f" s.symbols[t.i + 1] AS b"
            f" FROM s{k - 1} s, UNNEST(range(1, len(s.symbols) + 1)) t(i))"
        )
        ctes.append(
            f"t{k} AS (SELECT a AS l, b AS r, CAST(SUM(n) AS BIGINT) AS cnt"
            f" FROM p{k} WHERE b IS NOT NULL"
            f" GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if k < n_merges:  # the last round's rewrite feeds nothing
            ctes.append(
                f"m{k} AS (SELECT p.word, p.n, p.i, p.a, q.l, q.r,"
                f" COALESCE(p.a = q.l AND p.b = q.r, FALSE)"
                f" AND (q.l <> q.r OR (p.i -"
                f" (COALESCE(MAX(CASE WHEN p.a <> q.l THEN p.i END)"
                f" OVER (PARTITION BY p.word ORDER BY p.i"
                f" ROWS UNBOUNDED PRECEDING), 0) + 1)) % 2 = 0) AS sel"
                f" FROM p{k} p CROSS JOIN t{k} q)"
            )
            ctes.append(
                f"s{k} AS (SELECT word, n,"
                f" list(CASE WHEN sel THEN l || r ELSE a END ORDER BY i)"
                f" AS symbols"
                f" FROM (SELECT m.*, COALESCE(LAG(sel)"
                f" OVER (PARTITION BY word ORDER BY i), FALSE) AS dropped"
                f" FROM m{k} m) WHERE NOT dropped GROUP BY word, n)"
            )
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS lhs, r AS rhs,"
        f" l || r AS merged, cnt FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    return ",\n    ".join(ctes) + "\n    " + sel


@register(
    "text_bpe_train",
    f"""
    WITH {_sql_bpe_ctes(_BPE_MERGES)}
    """,
    category="text",
    # rotated INTO the driver window round 15 second swap (the round's
    # tokenizer-training flagship; join_nonequi_range freed the row)
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge LOOP, oracle-checked (operators.text.bpe_train_plan,
    Sennrich et al. ACL 2016 Algorithm 1): {_BPE_MERGES} merge rounds
    learned from the corpus. The test corpora's vocabularies are far
    under ``_LOCAL_MAX_CHARS``, so the rounds run inside ONE Python task
    over the checkpointed word counts; a larger vocabulary unrolls them
    as a Spark plan (each round's argmax a broadcast 1-row
    TakeOrderedAndProject frame applied as columns inside the codegen'd
    greedy fold). The oracle unrolls the identical rounds as CTEs,
    replaying the greedy left-to-right scan statelessly via run parity
    (overlapping matches exist only for l = r, where the scan provably
    merges the even-offset positions of each run). Pure integer counts +
    lexicographic tie-breaks end to end, so the learned merge TABLE —
    rule order, spellings, and corpus-weighted counts — matches
    bit-for-bit. Scale shape: the corpus is touched once (the word
    aggregate); every round runs over the Zipf-bounded vocabulary."""
    from kafka_workers_spark.operators.text import bpe_train_plan

    d = load_table(spark, sf_dir, "documents").select("text")
    return bpe_train_plan(d, n_merges=_BPE_MERGES)


_PHRASE_DELTA = 2
_PHRASE_NUM, _PHRASE_DEN = 11, 10  # threshold 1.1 as an exact rational
# (1.1 sits at the ~80th percentile of the testdata lift distribution, so
#  BOTH predicate arms carry real rows — a threshold past the tail would
#  pin is_phrase almost-all-false and stop guarding the comparison)
_PHRASE_MIN = 2
# the constants interpolate into BOTH the wrapper call and the oracle SQL
# below — change them together (the queries/pipeline_ops.py pairing rule)


@register(
    "text_phrase_mining",
    f"""
    WITH base AS (
      SELECT {_LM_TOKS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT t, COUNT(*) AS c
      FROM (SELECT UNNEST(toks) AS t FROM base) GROUP BY t
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    pairs AS (
      SELECT lhs, rhs, COUNT(*) AS pair_cnt FROM (
        SELECT UNNEST([{{'lhs': toks[i], 'rhs': toks[i+1]}}
                       FOR i IN generate_series(1, len(toks) - 1)],
                      recursive := true)
        FROM base WHERE len(toks) >= 2
      ) GROUP BY lhs, rhs
    )
    SELECT p.lhs, p.rhs, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           CAST(ul.c AS BIGINT) AS lhs_cnt, CAST(ur.c AS BIGINT) AS rhs_cnt,
           (CAST(p.pair_cnt - {_PHRASE_DELTA} AS DOUBLE) * CAST(n.n AS DOUBLE))
             / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE)) AS score,
           (p.pair_cnt > {_PHRASE_DELTA}
            AND CAST(p.pair_cnt - {_PHRASE_DELTA} AS HUGEINT) * CAST(n.n AS HUGEINT)
                  * {_PHRASE_DEN}
                > CAST({_PHRASE_NUM} AS HUGEINT) * CAST(ul.c AS HUGEINT)
                  * CAST(ur.c AS HUGEINT)) AS is_phrase
    FROM pairs p
    JOIN uni ul ON ul.t = p.lhs
    JOIN uni ur ON ur.t = p.rhs
    CROSS JOIN n
    WHERE p.pair_cnt >= {_PHRASE_MIN}
    """,
    category="text",
)
def text_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase collocation mining (operators.text.phrase_scores,
    Mikolov et al. NeurIPS 2013 arXiv:1310.4546 §4): every adjacent
    token pair scored by ``(count(a,b) - δ) · N / (count(a) ·
    count(b))`` with the phrase decision the exact integer predicate in
    DECIMAL(38,0) (HUGEINT on the oracle side) against the rational
    threshold {_PHRASE_NUM}/{_PHRASE_DEN}. The oracle replays
    tokenization, both count tables, the in-plan N broadcast, the score
    float (two exact int64→double conversions, one multiply, one divide
    — bit-reproducible cross-engine, unlike ln()) and the integer
    predicate.

    Scale shape: job-free build — two token-keyed partial-aggregate
    shuffles; N a one-row broadcast; scoring joins vocab-bounded and
    unhinted, their Zipf hot keys split by AQE's skew join."""
    from kafka_workers_spark.operators.text import phrase_scores

    d = load_table(spark, sf_dir, "documents").select("text")
    return phrase_scores(
        d,
        delta=_PHRASE_DELTA,
        threshold=(_PHRASE_NUM, _PHRASE_DEN),
        min_count=_PHRASE_MIN,
    ).select("lhs", "rhs", "pair_cnt", "lhs_cnt", "rhs_cnt", "score", "is_phrase")


_NB_BUCKETS = 2048
_NB_TRAIN_MOD = 2  # doc_id % 2 == 0 trains; the odd half scores
# (constants interpolate into BOTH the wrapper and the oracle SQL below)


@register(
    "text_nb_score",
    f"""
    WITH base AS (
      SELECT doc_id, lang, {_LM_TOKS_SQL} AS toks FROM documents
    ),
    fb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % {_NB_BUCKETS} AS b
      FROM (
        SELECT doc_id,
               UNNEST(toks || CASE WHEN len(toks) >= 2
                   THEN [toks[i] || ' ' || toks[i+1]
                         FOR i IN generate_series(1, len(toks) - 1)]
                   ELSE [] END) AS f
        FROM base
      )
    ),
    fc AS (
      SELECT b2.lang AS label, fb.b, COUNT(*) AS cnt
      FROM fb JOIN base b2 USING (doc_id)
      WHERE b2.doc_id % {_NB_TRAIN_MOD} = 0
      GROUP BY 1, 2
    ),
    labels AS (
      SELECT DISTINCT lang AS label FROM documents
      WHERE doc_id % {_NB_TRAIN_MOD} = 0 AND lang IS NOT NULL
    )
    SELECT d.doc_id, l.label,
           CAST(COUNT(fb.b) AS BIGINT) AS n_feats,
           CAST(COALESCE(SUM(fc.cnt), 0) AS BIGINT) AS sum_feat_count
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_NB_TRAIN_MOD} = 1) d
    CROSS JOIN labels l
    LEFT JOIN fb ON fb.doc_id = d.doc_id
    LEFT JOIN fc ON fc.label = l.label AND fc.b = fb.b
    GROUP BY d.doc_id, l.label
    """,
    category="text",
    # rotated INTO the driver window round 8 (VERDICT r07 #5) for
    # multimodal_decode
)
def text_nb_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes train → score chain
    (operators/classify.py nb_train / nb_score; Joulin et al. EACL 2017
    is the fastText-classifier precedent, NB its closed-form cousin):
    the even-doc_id half trains per-lang hashed unigram+bigram bucket
    models ({_NB_BUCKETS} buckets, the DSIR feature space), the odd half
    scores against every trained label. The oracle replays feature
    hashing, the per-(label, bucket) counts, the label cross (every doc
    scores EVERY label — the smoothed-floor contract), and the
    per-(doc, label) integer aggregate; log_posterior is libm ln(), so
    it is differential-tested against a Python reference in
    tests/test_scoring.py instead (the DSIR float discipline). The
    testdata's lang classes are near-uniform over the shared vocabulary,
    which is exactly why the INTEGER surface is the oracle: it pins the
    mechanism (hashing, counts, fan-out, smoothing inputs) regardless of
    class separability; learning itself is proven on a separable corpus
    in the unit tests.

    Scale shape: the model is <= labels × buckets rows BY CONSTRUCTION —
    broadcast at any corpus size; scoring is explode → K-row label
    broadcast cross → broadcast counts join → (doc, label)-keyed partial
    aggregate. No token-keyed shuffle, no Zipf hot key."""
    from kafka_workers_spark.operators.classify import nb_score, nb_train

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = d.filter(F.col("doc_id") % _NB_TRAIN_MOD == 0)
    test = d.filter(F.col("doc_id") % _NB_TRAIN_MOD == 1)
    model = nb_train(train, "lang", n_buckets=_NB_BUCKETS)
    return nb_score(test, model).select(
        "doc_id", "label", "n_feats", "sum_feat_count"
    )


# ---------------------------------------------------------------------------
# PII redaction (RE2-replayable rule subset)
# ---------------------------------------------------------------------------

# RE2-safe rules for the cross-engine replay: DuckDB's regexp engine is
# RE2, which has no lookbehind/lookahead, so the oracle exercises the
# email rule (shared verbatim with operators.text.PII_RULES) plus a
# boundary-free phone shape. The full default rule set (lookaround
# IPv4/card/phone boundaries) is pinned by tests/test_text_quality.py.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_PHONE_RE = r"\d{3}-\d{4}"
_PII_ORACLE_RULES = ((_PII_EMAIL_RE, "<EMAIL>"), (_PII_PHONE_RE, "<PHONE>"))
# the synthetic corpus carries no PII, so every third document gets a
# deterministic email + phone suffix derived from its id — BOTH engines
# construct the same text, so hits are nonzero and replayable
_PII_SEED_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' Reach user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents WHERE text IS NOT NULL
"""


@register(
    "text_redact_pii",
    f"""
    WITH staged AS ({_PII_SEED_SQL})
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PII_PHONE_RE}', '<PHONE>', 'g') AS text,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))
                + len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT) AS pii_hits
    FROM staged
    """,
    category="text",
    windowed=False,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as chained in-plan regexp_replace
    (operators.text.redact_pii — single scan, whole-stage codegen, no
    Python workers) with pre-redaction hit counts. Every third document
    gets a deterministic synthetic email+phone suffix (the corpus itself
    is PII-free), the rest pass through untouched with zero hits, so the
    oracle checks both the rewrite and the no-op path. Rule order is part
    of the replay: the email rule runs before the phone rule in both
    engines. Reference tie-in: payload scrubbing is user-task territory
    in the reference (api/task/WorkerTask.java:50); here it is an engine
    primitive of the curation stack."""
    from kafka_workers_spark.operators.text import redact_pii

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = d.filter(F.col("text").isNotNull()).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    return redact_pii(staged, rules=_PII_ORACLE_RULES, count_col="pii_hits").select(
        "doc_id", "text", "pii_hits"
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (exact-integer score surface)
# ---------------------------------------------------------------------------

_BM25_QUERIES = [0, 1, 2, 3]
_BM25_TOP_K = 5
_BM25_MAX_DF = 0.8  # the tfidf query's reading: templated vocab needs a wide window


_BM25_ORACLE = f"""
    WITH toked AS (
      SELECT doc_id, UNNEST(string_split({sql_normalized('text')}, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toked
      WHERE length(term) > 0 GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    g AS (
      SELECT COUNT(*) AS n,
             (2 * SUM(dl) + COUNT(*)) // (2 * COUNT(*)) AS adl
      FROM dl
    ),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    kept AS (
      SELECT term,
             CAST(floor(1000000.0 * ln(CAST(2 * n + 2 AS DOUBLE)
                                       / CAST(2 * df + 1 AS DOUBLE))) AS BIGINT) AS idf6,
             adl
      FROM dft, g
      WHERE df >= 1 AND df <= CAST(floor({_BM25_MAX_DF} * n) AS BIGINT)
    ),
    w AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST((idf6 * ((22000000 * tf * adl)
                           // (10 * tf * adl + 3 * adl + 9 * dl.dl)))
                  // 1000000 AS BIGINT) AS w6
      FROM tf JOIN kept ON tf.term = kept.term JOIN dl ON dl.doc_id = tf.doc_id
    ),
    q AS (SELECT doc_id AS query_id, term, tf AS qtf FROM w
          WHERE doc_id IN ({', '.join(map(str, _BM25_QUERIES))})),
    scored AS (
      SELECT query_id, w.doc_id, CAST(SUM(qtf * w6) AS BIGINT) AS score6
      FROM w JOIN q ON w.term = q.term AND w.doc_id <> q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id AS neighbor_id, score6 FROM (
      SELECT query_id, doc_id, score6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score6 DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_TOP_K}
    """


@register(
    "text_bm25_topk",
    _BM25_ORACLE,
    category="text",
    # rotated INTO the driver window round 7 (sort_limit_topk -> EXTRA):
    # the exact-integer BM25 ranking is a stronger driver row than a
    # TakeOrdered that test_plans already plan-asserts
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (operators.text.bm25_topk; Robertson &
    Zaragoza 2009, k1=1.2, b=0.75) — the ranking-function upgrade of
    text_tfidf_topk over the same inverted-index join. The score surface
    is EXACT bigints: with avgdl quantized to the nearest integer token
    the k1/b rational reduces to integral DIVs that DuckDB's // replays
    bit for bit, and the per-term idf6 is the same
    int-ratio-then-ln-then-floor form the TF-IDF oracle already holds
    cross-engine — so the whole ranking, not just row counts, is
    oracle-checked. N/S/avgdl derive IN-PLAN (one-row broadcast,
    job-free build, lazy empty-keep raise)."""
    from kafka_workers_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(
        docs, _BM25_QUERIES, top_k=_BM25_TOP_K, max_df_fraction=_BM25_MAX_DF
    )


@register(
    "text_bm25_indexed",
    _BM25_ORACLE,  # the IDENTICAL whole-pass oracle — merge exactness is the claim
    category="text",
    windowed=False,
)
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index path of BM25 under the SAME oracle as
    text_bm25_topk: the corpus indexes as two disjoint id-parity halves
    (operators.text.bm25_index) merged by bm25_merge_index — postings
    union, df/stats ADD, overlap-guarded — then searched with
    bm25_topk_indexed. Merge-exactness means the whole-pass oracle must
    hold bit for bit, so the ingest-batch rollup (the index-once /
    search-many production shape) is itself oracle-checked, not just
    unit-pinned."""
    from kafka_workers_spark.operators.text import (
        bm25_index,
        bm25_merge_index,
        bm25_topk_indexed,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = bm25_merge_index(
        bm25_index(docs.filter(F.col("doc_id") % 2 == 0)),
        bm25_index(docs.filter(F.col("doc_id") % 2 == 1)),
    )
    return bm25_topk_indexed(
        idx, _BM25_QUERIES, top_k=_BM25_TOP_K, max_df_fraction=_BM25_MAX_DF
    )


# ---------------------------------------------------------------------------
# Topic clustering over hashed TF-IDF vectors (exact-integer kmeans)
# ---------------------------------------------------------------------------

_TC_DIM = 16
_TC_K = 4
_TC_ITERS = 2
_TC_MAX_DF = 0.8


def _sql_text_kmeans_ctes(k: int, iters: int) -> str:
    """The text instance of queries/similarity.sql_lloyd_ctes: training
    on the FULL hashed-vector corpus (the embedding variant trains on an
    id-mod sample) — one shared builder, so the two oracles can never
    drift from kmeans_fixed independently."""
    from kafka_workers_spark.queries.similarity import sql_lloyd_ctes

    return ",\n    ".join(sql_lloyd_ctes(k, iters, train_cte="comp", full_cte="comp"))


@register(
    "text_cluster_topics",
    f"""
    WITH toked AS (
      SELECT doc_id, UNNEST(string_split({sql_normalized('text')}, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toked
      WHERE length(term) > 0 GROUP BY 1, 2
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    kept AS (
      SELECT term, df FROM dft, nd
      WHERE df >= 1 AND df <= CAST(floor({_TC_MAX_DF} * n) AS BIGINT)
    ),
    w AS (
      SELECT doc_id, tf.term,
             tf * CAST(floor(1000000.0 * ln(CAST(n + 1 AS DOUBLE) / (df + 1))
                            + 1000000.0) AS BIGINT) AS w6
      FROM tf JOIN kept ON tf.term = kept.term, nd
    ),
    sums AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('b|' || term), 1, 15) AS BIGINT) % {_TC_DIM} AS i,
             SUM((1 - 2 * (CAST('0x' || substr(md5('s|' || term), 1, 1) AS BIGINT) % 2))
                 * w6) AS x
      FROM w GROUP BY 1, 2
    ),
    comp AS (
      SELECT d.doc_id AS vec_id, r.i AS i, COALESCE(s.x, 0) AS x
      FROM (SELECT DISTINCT doc_id FROM w) d
      CROSS JOIN range({_TC_DIM}) r(i)
      LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.i = r.i
    ),
    {_sql_text_kmeans_ctes(_TC_K, _TC_ITERS)},
    sizes AS (SELECT list_id, CAST(COUNT(*) AS BIGINT) AS topic_size FROM aF GROUP BY 1)
    SELECT aF.vec_id AS doc_id, aF.list_id AS topic_id, sizes.topic_size
    FROM aF JOIN sizes ON sizes.list_id = aF.list_id
    """,
    category="text",
    # rotated INTO the driver window round 8 (VERDICT r07 #5) for
    # join_semi_anti
)
def text_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # docstring literals 16/4/2 mirror _TC_DIM/_TC_K/_TC_ITERS above —
    # update both together (an f-string cannot be a docstring)
    """Corpus topic clustering with NO embedding model: feature-hashed
    TF-IDF vectors (operators.text.hashed_doc_vectors — the hashing
    trick, Weinberger et al. ICML 2009, 16 signed md5 buckets) through
    the exact-integer Lloyd loop (operators.similarity.kmeans_fixed,
    k=4, 2 steps). Every step is integer arithmetic — fixed-point
    TF-IDF weights, ±1 md5-bit signs, integer squared-L2, floor-divided
    centroid means — so the oracle replays hashing AND the full
    unrolled training chain bit for bit; (doc → topic, topic size) is
    the checked surface.

    Scale shape: vector width is FIXED at 16 regardless of vocabulary
    (docs×dim rows, never docs×vocab), each Lloyd pass is a k·dim-row
    broadcast join + one codegen hash aggregate, and at real scale
    training runs on a sample (kmeans_fixed's ``train=`` arm, as
    ann_ivf_topk does) with one final assignment pass."""
    from kafka_workers_spark.cache import pin
    from kafka_workers_spark.operators.similarity import kmeans_fixed
    from kafka_workers_spark.operators.text import hashed_doc_vectors

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # pin the hashed vectors BEFORE the Lloyd loop: kmeans_fixed
    # references its training frame twice per iteration plus the final
    # assignment pass (~5 plan references at 2 iters), and unpinned each
    # one re-derives the tfidf→hash chain (three shuffles). The frame is
    # docs×dim rows — tiny. Honest local reading: sf0.1 wall barely
    # moves (~4-5 s either way — the chain re-runs were already served
    # by ReusedExchange, and local wall is per-stage scheduling across
    # the ~9 Lloyd shuffles); the pin matters at 100 TB where the chain
    # is NOT exchange-reusable across iterations (AQE re-plans break
    # reuse) and each re-derivation would re-scan the corpus.
    vecs = pin(
        hashed_doc_vectors(docs, dim=_TC_DIM, max_df_fraction=_TC_MAX_DF).select(
            F.col("doc_id").alias("vec_id"), "i", "x"
        ),
        "queries.text_cluster_topics.vecs",
    )
    # the assignment has two consumers below (sizes aggregate + the final
    # join); kmeans_fixed returns it generation-pinned
    _, assign = kmeans_fixed(vecs, k=_TC_K, iters=_TC_ITERS)
    sizes = assign.groupBy("list_id").agg(F.count("*").cast("bigint").alias("topic_size"))
    return assign.join(sizes, "list_id").select(
        F.col("vec_id").alias("doc_id"),
        F.col("list_id").alias("topic_id"),
        "topic_size",
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------

_PHRASE = ("table", "value")  # common testdata bigram — non-empty result set


@register(
    "text_phrase_search",
    f"""
    WITH toks AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS ts FROM documents
    ),
    pos AS (
      SELECT doc_id,
             UNNEST([{{'p': i - 1, 'term': ts[i]}}
                     FOR i IN generate_series(1, len(ts))], recursive := true)
      FROM toks WHERE len(ts) > 0
    ),
    m0 AS (SELECT doc_id, p FROM pos WHERE term = '{_PHRASE[0]}'),
    m1 AS (SELECT doc_id, p - 1 AS p FROM pos WHERE term = '{_PHRASE[1]}')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM m0 JOIN m1 USING (doc_id, p)
    GROUP BY doc_id
    """,
    category="text",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query over the positional index
    (operators.text.positional_index / phrase_search, IIR §2.4): count
    occurrences of the two-word phrase per document via term-filtered
    posting-list intersection on (doc, shifted position). The oracle
    replays tokenization, positions, and the positional join."""
    from kafka_workers_spark.operators.text import phrase_search, positional_index

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(positional_index(d), list(_PHRASE))


_PROX_W = 5


@register(
    "text_proximity_search",
    f"""
    WITH toks AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS ts FROM documents
    ),
    pos AS (
      SELECT doc_id,
             UNNEST([{{'p': i - 1, 'term': ts[i]}}
                     FOR i IN generate_series(1, len(ts))], recursive := true)
      FROM toks WHERE len(ts) > 0
    ),
    a AS (SELECT doc_id, p AS pa FROM pos WHERE term = '{_PHRASE[0]}'),
    b AS (SELECT doc_id, p AS pb FROM pos WHERE term = '{_PHRASE[1]}')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(ABS(pa - pb)) AS BIGINT) AS min_dist
    FROM a JOIN b USING (doc_id)
    WHERE ABS(pa - pb) <= {_PROX_W} AND pa <> pb
    GROUP BY doc_id
    """,
    category="text",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-window co-occurrence (operators.text.proximity_search,
    IIR §2.4.2): documents where the two terms appear within _PROX_W
    positions, with pair count and tightest distance. The engine runs
    the bucket-banded plan (positions band into width-w buckets, one
    side explodes to 3 adjacent buckets, exact filter on candidates);
    the oracle verifies its SEMANTICS with the naive per-doc join —
    banded == naive is exactly the claim under test."""
    from kafka_workers_spark.operators.text import positional_index, proximity_search

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return proximity_search(positional_index(d), _PHRASE[0], _PHRASE[1], window=_PROX_W)


@register(
    "text_quality_calibrate",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_LM_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_tokens) AS pct_rank
    FROM scored
    """,
    category="text",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def text_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration: heterogeneous sources have
    incomparable raw score scales, so a single global threshold
    over-prunes one source and under-prunes another — the standard fix
    maps each score to its within-source percentile before any global
    cut (the CCNet per-bucket discipline applied across sources).
    percent_rank = (rank-1)/(n-1) — a single IEEE division of exact
    integers with tie ranks defined identically on both engines, so
    the float rides the oracle. Window is PARTITIONED by source
    (strata-sized sorts, the nucleus_select scale note). The score here
    is the LM token count — swap in any integer quality signal
    (gopher_rules booleans, lm ppl buckets) without changing the
    shape."""
    from kafka_workers_spark.operators.text import normalized, tokens
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = d.select(
        "doc_id",
        "source",
        F.size(
            F.filter(tokens(normalized(F.col("text"))), lambda t: F.length(t) > 0)
        ).cast("bigint").alias("n_tokens"),
    )
    return scored.select(
        "doc_id",
        "source",
        "n_tokens",
        F.percent_rank()
        .over(W.partitionBy("source").orderBy("n_tokens"))
        .alias("pct_rank"),
    )


_BOOL_ALL = ("table", "value")
_BOOL_NOT = ("window",)


@register(
    "text_boolean_search",
    f"""
    WITH toks AS (
      SELECT doc_id, {_LM_TOKS_SQL} AS ts FROM documents
    ),
    pos AS (
      SELECT DISTINCT doc_id, UNNEST(ts) AS term FROM toks
    ),
    hits AS (
      SELECT doc_id FROM pos WHERE term IN ('{_BOOL_ALL[0]}', '{_BOOL_ALL[1]}')
      GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2
    )
    SELECT h.doc_id FROM hits h
    WHERE NOT EXISTS (
      SELECT 1 FROM pos WHERE pos.doc_id = h.doc_id AND pos.term = '{_BOOL_NOT[0]}'
    )
    """,
    category="text",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def text_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (operators.text.boolean_search, IIR §1):
    documents containing BOTH query terms and NOT the excluded term —
    posting-list aggregate + anti-join, the set-algebra complement to
    the ranked (BM25), phrase, and proximity entries. The oracle
    replays the same algebra over distinct (doc, term) postings."""
    from kafka_workers_spark.operators.text import boolean_search, positional_index

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return boolean_search(
        positional_index(d), all_terms=list(_BOOL_ALL), none_terms=list(_BOOL_NOT)
    )


_CT_R = 50  # == operators.text.CT_PROFILE_SIZE (asserted in tests)


@register(
    "text_langid_ngram",
    f"""
    WITH nt AS (
      SELECT doc_id, lang, {sql_normalized('text')} AS n FROM documents
    ),
    ref_tri AS (
      SELECT lang AS label, UNNEST([substr(n, i, 3) FOR i IN generate_series(1, len(n) - 2)]) AS tri
      FROM nt WHERE len(n) >= 3 AND doc_id % 2 = 0 AND lang IS NOT NULL
    ),
    class_prof AS (
      SELECT label, tri, rnk AS crank FROM (
        SELECT label, tri, ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY COUNT(*) DESC, tri) AS rnk
        FROM ref_tri GROUP BY label, tri
      ) WHERE rnk <= {_CT_R}
    ),
    doc_tri AS (
      SELECT doc_id, UNNEST([substr(n, i, 3) FOR i IN generate_series(1, len(n) - 2)]) AS tri
      FROM nt WHERE len(n) >= 3 AND doc_id % 2 = 1
    ),
    doc_prof AS (
      SELECT doc_id, tri, rnk FROM (
        SELECT doc_id, tri, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY COUNT(*) DESC, tri) AS rnk
        FROM doc_tri GROUP BY doc_id, tri
      ) WHERE rnk <= {_CT_R}
    ),
    labels AS (SELECT DISTINCT label FROM class_prof),
    scored AS (
      SELECT d.doc_id, l.label,
             CAST(SUM(COALESCE(ABS(d.rnk - c.crank), {_CT_R})) AS BIGINT) AS dist
      FROM doc_prof d CROSS JOIN labels l
      LEFT JOIN class_prof c ON c.label = l.label AND c.tri = d.tri
      GROUP BY d.doc_id, l.label
    ),
    best AS (
      SELECT doc_id, MIN({{'dist': dist, 'label': label}}) AS b
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, b['label'] AS predicted, CAST(b['dist'] AS BIGINT) AS dist
    FROM best
    """,
    category="text",
    windowed=False,  # new round 8 — EXTRA until rotated in
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle char-trigram rank-profile language ID
    (operators.text.ngram_langid_score, SDAIR 1994) under the LM-family
    protocol: class profiles train on the even-doc_id half, the odd
    half is scored — every rank, out-of-place distance, and the argmin
    are exact integers, so the ENTIRE method replays in the oracle.
    The testdata's langs are deliberately token-uniform (documented at
    text_nb_score), so the oracle pins the MECHANISM; discrimination is
    proven on a separable corpus in unit tests."""
    from kafka_workers_spark.operators.text import ngram_langid_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    return ngram_langid_score(test, ref, profile_size=_CT_R)


_CHI2_K = 15


@register(
    "text_chi2_terms",
    f"""
    WITH d AS (
      SELECT doc_id, lang AS label,
             list_distinct({_LM_TOKS_SQL}) AS toks
      FROM documents
    ), tl AS (
      SELECT label, UNNEST(toks) AS term FROM d
    ), n11 AS (
      SELECT term, label, CAST(COUNT(*) AS BIGINT) AS n11 FROM tl GROUP BY 1, 2
    ), tdf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tdf FROM tl GROUP BY 1
    ), lbl AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS ln FROM d GROUP BY 1
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM d),
    scored AS (
      SELECT n11.label, n11.term, n11.n11,
             tdf.tdf - n11.n11 AS n10,
             lbl.ln - n11.n11 AS n01,
             tot.N - tdf.tdf - (lbl.ln - n11.n11) AS n00,
             CAST(tot.N AS DOUBLE)
               * CAST(n11.n11 * (tot.N - tdf.tdf - (lbl.ln - n11.n11))
                      - (tdf.tdf - n11.n11) * (lbl.ln - n11.n11) AS DOUBLE)
               * CAST(n11.n11 * (tot.N - tdf.tdf - (lbl.ln - n11.n11))
                      - (tdf.tdf - n11.n11) * (lbl.ln - n11.n11) AS DOUBLE)
               / (CAST(lbl.ln AS DOUBLE)
                  * CAST(tdf.tdf AS DOUBLE)
                  * CAST(tot.N - lbl.ln AS DOUBLE)
                  * CAST(tot.N - tdf.tdf AS DOUBLE)) AS chi2
      FROM n11 JOIN tdf USING (term) JOIN lbl USING (label) CROSS JOIN tot
      WHERE tdf.tdf > 0 AND tdf.tdf < tot.N
    )
    SELECT label, term, n11, n10, n01, n00, chi2, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY chi2 DESC, term) AS rank
      FROM scored
    ) WHERE rank <= {_CHI2_K}
    """,
    category="text",
    windowed=False,
)
def text_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term-label feature selection (operators.text.chi2_terms,
    IIR §13.5.2): top-15 terms per language by the 2×2 presence-table
    χ² — every margin an exact integer count, χ² one fixed-order IEEE
    expression (difference squared, one division; no float aggregate,
    no transcendentals), so the statistic itself rides the value-hash
    oracle. Feeds the NB/DSIR classifier stack's feature sets."""
    from kafka_workers_spark.operators.text import chi2_terms

    d = load_table(spark, sf_dir, "documents")
    return chi2_terms(
        d.select("doc_id", F.col("lang"), "text"), "lang", top_k=_CHI2_K
    ).select(
        "label", "term", "n11", "n10", "n01", "n00", "chi2", "rank"
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ dense cosine via reciprocal-rank fusion
# ---------------------------------------------------------------------------

# the cosine leg's oracle comes verbatim from the registered
# ann_cosine_topk spec (import registers the similarity module if the
# caller hasn't already) — the fusion oracle COMPOSES the two legs'
# oracles unchanged, so hybrid correctness inherits theirs
from kafka_workers_spark.queries import similarity as _sim  # noqa: E402
from kafka_workers_spark.queries import EXTRA_REGISTRY as _XREG  # noqa: E402
from kafka_workers_spark.queries import REGISTRY as _REG  # noqa: E402

from kafka_workers_spark.operators.similarity import RRF_SCALE as _RRF_SCALE  # noqa: E402

_COS_ORACLE = {**_REG, **_XREG}["ann_cosine_topk"].oracle
_RRF_K0 = 60
_RRF_TOP_K = 5


@register(
    "text_hybrid_rrf",
    f"""
    WITH u AS (
      SELECT query_id, neighbor_id, rank FROM ({_BM25_ORACLE})
      UNION ALL
      SELECT query_id, neighbor_id, rank FROM ({_COS_ORACLE})
      WHERE query_id IN ({', '.join(map(str, _BM25_QUERIES))})
    ),
    f AS (
      SELECT query_id, neighbor_id,
             CAST(SUM({_RRF_SCALE} // ({_RRF_K0} + rank)) AS BIGINT) AS rrf_fp,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rrf_fp, n_lists, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_fp DESC, neighbor_id) AS rank
      FROM f
    ) WHERE rank <= {_RRF_TOP_K}
    """,
    category="text",
    windowed=False,  # new round 12 — EXTRA until rotated in
)
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators.similarity.rrf_fuse — Cormack, Clarke
    & Büttcher SIGIR 2009): fuse the BM25 lexical ranking
    (text_bm25_topk's exact-integer scoring) with the dense cosine
    ranking (ann_cosine_topk's fixed-point dot products) by reciprocal
    rank, ``Σ RRF_SCALE DIV (k0 + rank)`` — exact bigint, so the FUSED
    ranking rides the value hash, and the oracle literally composes the
    two legs' registered oracles (hybrid correctness inherits theirs).
    Documents and embeddings share the id space 0..N-1 in this corpus;
    queries are the BM25 query ids. ``n_lists`` = how many modalities
    ranked the pair (the agreement signal)."""
    from kafka_workers_spark.operators.similarity import rrf_fuse

    bm = text_bm25_topk(spark, sf_dir)
    cos = _sim.ann_cosine_topk(spark, sf_dir).filter(
        F.col("query_id").isin(_BM25_QUERIES)
    )
    return rrf_fuse([bm, cos], top_k=_RRF_TOP_K, k0=_RRF_K0)


from kafka_workers_spark.operators.text import (  # noqa: E402
    repetition_screen,
    sql_repetition_screen,
)

_GOPHER_N = 2


@register(
    "quality_repetition_screen",
    sql_repetition_screen(_GOPHER_N),
    category="text",
    windowed=False,  # new round 13 — EXTRA until rotated in
)
def quality_repetition_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition screen, ready to threshold
    (operators.text.repetition_screen — Rae et al. 2021 §A1.1). Extends
    ``text_ngram_repetition``'s raw counts with the three quantities the
    MassiveText filters actually need and that row cannot derive:
    ``n_tokens`` (the normalizer), ``dup_gram_tokens`` (Σ multiplicity
    over n-grams occurring more than once — the duplicated-instance
    MASS, not recoverable from total/distinct/top), and the two
    one-division fractions (``top_gram_frac``, ``dup_gram_frac``) that
    the Gopher thresholds compare (drop at dup_2gram_frac > 0.2). The
    oracle replays the identical tokenizer, shingles, and divisions via
    sql_repetition_screen — the shared-renderer pattern, so the two
    sides cannot drift. The synthetic corpus is heavily repetitive, so
    the screen emits a full spread of non-trivial values at every SF."""
    d = load_table(spark, sf_dir, "documents")
    return repetition_screen(d, "doc_id", "text", n=_GOPHER_N)


@register(
    "corpus_zipf_slope",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ), ranked AS (
      SELECT lang,
             CAST(floor(1000000 * ln(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY cnt DESC, tok ASC))) AS BIGINT) AS x,
             CAST(floor(1000000 * ln(cnt)) AS BIGINT) AS y
      FROM freq
    ), stats AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx
      FROM ranked GROUP BY 1
    ), sloped AS (
      SELECT lang, n, sx, sy,
             CASE WHEN n * sxx - sx * sx <> 0
                  THEN CAST(((n * sxy - sx * sy) * 1000000000)
                            // (n * sxx - sx * sx) AS BIGINT)
             END AS slope9
      FROM stats
    )
    SELECT lang, n, slope9,
           CAST(slope9 AS DOUBLE) / 1e9 AS slope,
           CASE WHEN slope9 IS NOT NULL THEN
             (CAST(sy AS DOUBLE)
              - (CAST(slope9 AS DOUBLE) / 1e9) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * 1.0)
           END AS intercept
    FROM sloped
    """,
    category="text",
    windowed=False,  # new round 13 — EXTRA until rotated in
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the per-language token frequency
    distribution (Zipf 1949; the corpus-health diagnostic a mixture
    builder tracks per source/language — a slope far from −1 flags
    boilerplate floods or truncated vocabularies): ln(freq) regressed on
    ln(rank) via the exact-OLS operator
    (operators.relational.group_ols, the agg_group_ols discipline). Both
    axes quantize FIRST (floor(1e6·ln(·)) → BIGINT — the psi/tfidf ln
    rule), the sufficient statistics ride DECIMAL(38,0)/HUGEINT, the
    slope materializes as an exact DIV-scaled integer, and the derived
    slope/intercept doubles are single IEEE ops on identical bigints —
    the whole regression hash-matches cross-engine.

    Shape at scale: one explode → (lang, token) hash aggregate (partial
    combine absorbs repetition before the shuffle), one lang-keyed rank
    window over the VOCABULARY (not the corpus), one 5-sum OLS
    aggregate."""
    from pyspark.sql import Window as W

    from kafka_workers_spark.operators.relational import group_ols
    from kafka_workers_spark.operators.text import tokenize_stage

    d = load_table(spark, sf_dir, "documents")
    staged = tokenize_stage(d.select("lang", "text"))
    freq = (
        staged.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = freq.select(
        "lang",
        F.floor(F.lit(1_000_000.0) * F.log(F.row_number().over(w).cast("double")))
        .cast("bigint")
        .alias("x"),
        F.floor(F.lit(1_000_000.0) * F.log(F.col("cnt").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    return group_ols(ranked, ["lang"], "x", "y", scale=1)
