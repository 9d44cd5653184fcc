"""Gopher/C4-style repetition + heuristic quality rules
(operators/text.py: duplicate_line_fraction, duplicate_ngram_metrics,
gopher_rules/gopher_filter) against hand-computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_workers_spark.operators.text import (
    duplicate_line_fraction,
    duplicate_ngram_metrics,
    gopher_filter,
    tokens,
)


def test_duplicate_line_fraction(spark):
    rows = [
        (1, "a\nb\nc\nd"),          # all unique -> 0.0
        (2, "nav\nbody\nnav\nnav"),  # 4 lines, 2 distinct -> 0.5
        (3, "x"),                    # single line -> 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.f
        for r in df.select("doc_id", duplicate_line_fraction(F.col("text")).alias("f")).collect()
    }
    assert got[1] == 0.0 and got[3] == 0.0
    assert got[2] == pytest.approx(0.5)


def test_duplicate_ngram_metrics(spark):
    # "a b a b a" -> 2-grams: [a b, b a, a b, b a] : total 4, distinct 2, top 2
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    staged = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    m = duplicate_ngram_metrics(staged, ["doc_id"], n=2).collect()[0]
    assert (m.n_ngrams, m.n_distinct_ngrams, m.top_ngram_count) == (4, 2, 2)
    # derived Gopher signals
    assert 1 - m.n_distinct_ngrams / m.n_ngrams == pytest.approx(0.5)  # dup-2-gram frac
    assert m.top_ngram_count / m.n_ngrams == pytest.approx(0.5)        # top-2-gram frac


def test_gopher_filter_rules(spark):
    good = (
        "the cat sat on the mat and it was a good day for all of the cats "
        "in that warm little house near the lake"
    )
    rows = [
        (1, good),
        (2, "buy now " * 10),                      # no stopwords beyond threshold
        (3, "#tag " * 30),                          # symbol ratio
        (4, "\n".join(["- item"] * 10)),            # all bullet lines
        (5, " ".join(["antidisestablishmentarianism"] * 30)),  # mean word len > 10
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        r.doc_id for r in gopher_filter(df, min_word_count=5).collect()
    )
    assert out == [1]
    # rule subsetting: with only the word-count rule, everything >=5 tokens passes
    out2 = sorted(
        r.doc_id
        for r in gopher_filter(df, min_word_count=5, rules=("rule_word_count",)).collect()
    )
    assert out2 == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="unknown gopher rules"):
        gopher_filter(df, rules=("rule_nope",))


def test_winnowing_fingerprints(spark):
    """Winnowing detection guarantee: documents sharing a long span share
    at least one fingerprint; the set is smaller than the full hash list;
    a short doc still yields one fingerprint."""
    from kafka_workers_spark.operators.text import winnowing_fingerprints, word_shingles

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "intro words here " + span + " closing remarks now"),
        (2, "totally different opening " + span + " and another ending"),
        (3, "no overlap with anything else in this corpus at all today"),
        (4, "a b c"),  # exactly one 3-shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    staged = df.select(
        "doc_id", word_shingles(F.split(F.col("text"), " "), 3).alias("shingles")
    )
    out = {
        r.doc_id: set(r.fp)
        for r in staged.select(
            "doc_id", winnowing_fingerprints(F.col("shingles"), window=4).alias("fp")
        ).collect()
    }
    # shared 10-token span = 8 shared 3-shingles > k+w-1 guarantee window
    assert out[1] & out[2], "shared span produced no common fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])
    assert len(out[4]) == 1
    # compression: fewer fingerprints than shingles for a long doc
    n_shingles = len(rows[0][1].split()) - 2
    assert len(out[1]) < n_shingles


def test_chunk_reconstruction_roundtrip_randomized(spark):
    """Property: for random documents and window geometries, dropping each
    chunk's leading overlap and concatenating reconstructs the document
    exactly — full coverage, no duplicated tail text."""
    import random

    from kafka_workers_spark.operators.text import chunk_documents

    rng = random.Random(11)
    docs, originals = [], {}
    for doc_id in range(40):
        n = rng.randint(1, 60)
        toks = [f"t{doc_id}_{i}" for i in range(n)]
        originals[doc_id] = toks
        docs.append((doc_id, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for chunk_tokens, overlap in [(8, 2), (5, 4), (16, 0), (3, 1)]:
        rows = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert set(by_doc) == set(originals)
        for doc_id, chunks in by_doc.items():
            chunks.sort(key=lambda r: r.chunk_id)
            rebuilt = chunks[0].chunk_text.split()
            for r in chunks[1:]:
                rebuilt += r.chunk_text.split()[overlap:]
            assert rebuilt == originals[doc_id], (doc_id, chunk_tokens, overlap)


def test_duplicate_ngram_metrics_empty_doc_zero(spark):
    """A doc with fewer than n tokens has ZERO n-grams — not one
    'maximally repetitive' NULL gram (which would read as
    top_ngram_frac = 1.0 and reject the doc as boilerplate)."""
    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    staged = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    m = duplicate_ngram_metrics(staged, ["doc_id"], n=2).collect()[0]
    assert (m.n_ngrams, m.n_distinct_ngrams, m.top_ngram_count) == (0, 0, 0)


def test_chunk_documents_drops_null_text(spark):
    from kafka_workers_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, None), (2, "a b c")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=2, overlap=0).collect()
    assert sorted({r.doc_id for r in rows}) == [2]
    assert all(r.chunk_text is not None for r in rows)


# ---------------------------------------------------------------------------
# Global paragraph dedup (C4-style spans) + PII redaction
# ---------------------------------------------------------------------------


def test_dedup_paragraphs_keeps_first_occurrence_globally(spark):
    from kafka_workers_spark.operators.text import dedup_paragraphs

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n{boiler}\nalpha two"),
            (2, f"{boiler}\nbeta body"),
            (3, f"gamma body\n{boiler}"),
            (4, "delta only unique text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    # the boilerplate line survives only at its first (lowest doc, pos) site
    assert out[1].text == f"alpha one\n{boiler}\nalpha two"
    assert out[2].text == "beta body" and out[2].n_dropped == 1
    assert out[3].text == "gamma body" and out[3].n_dropped == 1
    assert out[4].text == "delta only unique text" and out[4].n_dropped == 0
    assert out[1].n_paragraphs == 3 and out[1].n_dropped == 0


def test_dedup_paragraphs_short_lines_pass_through(spark):
    """Blank/short separator lines are not dedup classes: they survive
    everywhere (welding unrelated docs on "" would be nonsense)."""
    from kafka_workers_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "one\n\ntwo"), (2, "three\n\nfour")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text for r in dedup_paragraphs(docs, min_chars=2).collect()}
    assert out[1] == "one\n\ntwo"
    assert out[2] == "three\n\nfour"  # the empty line was NOT deduped away


def test_redact_pii_rules_and_counts(spark):
    from kafka_workers_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.com or call +1 (555) 123-4567."),
            (2, "server at 192.168.1.10 charged card 4111 1111 1111 1111 ok"),
            (3, "no pii here, just prose from twenty twenty four"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs, count_col="pii_hits").collect()}
    assert "<EMAIL>" in out[1].text and "example.com" not in out[1].text
    assert "<PHONE>" in out[1].text and "555" not in out[1].text
    assert "<IP>" in out[2].text and "192.168" not in out[2].text
    assert "<CARD>" in out[2].text and "4111" not in out[2].text
    assert out[3].text == "no pii here, just prose from twenty twenty four"
    assert out[1].pii_hits >= 2 and out[2].pii_hits >= 2 and out[3].pii_hits == 0


def test_redact_pii_plan_stays_jvm_side(spark):
    from kafka_workers_spark.operators.text import redact_pii
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = audit(redact_pii(docs, count_col="pii_hits"))
    assert a.python_evals == 0 and a.cartesian_products == 0
    assert redact_pii(docs).count() == docs.count()


def test_dedup_paragraphs_on_real_documents(spark):
    from kafka_workers_spark.operators.text import dedup_paragraphs
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    out = dedup_paragraphs(docs)
    a = audit(out)
    assert a.python_evals == 0 and a.cartesian_products == 0
    rows = out.collect()
    assert len(rows) == docs.count()  # one row per document, always


def test_dedup_paragraphs_document_scope(spark):
    """scope='document': repeats within one page collapse, but a
    paragraph shared across documents survives once in EACH — the
    within-page boilerplate pass, not the corpus pass."""
    import pytest

    from kafka_workers_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "menu\nbody one\nmenu\ntail"),
            (2, "menu\nbody two"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, scope="document").collect()}
    assert out[1].text == "menu\nbody one\ntail"
    assert out[1].n_dropped == 1
    assert out[2].text == "menu\nbody two"  # cross-doc repeat untouched
    assert out[2].n_dropped == 0

    with pytest.raises(ValueError, match="unknown scope"):
        dedup_paragraphs(docs, scope="page")


def test_tfidf_topk_finds_topically_similar_docs(spark):
    """Sparse TF-IDF search: a document's nearest neighbor is the one
    sharing its rare terms, not the one sharing only ubiquitous terms
    (which the max_df cut removes)."""
    from kafka_workers_spark.operators.text import tfidf_topk

    rows = [
        (0, "the spark engine shuffles partitions across executors"),
        (1, "the spark engine shuffles data across the cluster"),
        (2, "a recipe for sourdough bread with rye flour"),
        (3, "bake sourdough bread using rye flour and patience"),
        (4, "the the the the the the"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.query_id, r.rank): r.neighbor_id
        for r in tfidf_topk(docs, [0, 2], top_k=1, max_df_fraction=0.7).collect()
    }
    assert out[(0, 1)] == 1  # spark doc matches the other spark doc
    assert out[(2, 1)] == 3  # bread doc matches the other bread doc


def test_tfidf_plan_is_inverted_index_shape(spark):
    """The sparse dot is a term-keyed equi-join with the query side
    broadcast: zero cartesian products, zero Python eval."""
    from kafka_workers_spark.operators.text import tfidf_topk
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    plan = audit(tfidf_topk(docs, [0, 1], top_k=5))
    assert plan.cartesian_products == 0 and plan.python_evals == 0


def test_tfidf_raises_when_df_window_keeps_nothing(spark):
    import pytest

    from kafka_workers_spark.operators.text import tfidf_topk

    one = spark.createDataFrame([(0, "single document corpus")], "doc_id long, text string")
    # with explicit n_docs the guard is eager (build-time ValueError) …
    with pytest.raises(ValueError, match="keeps NO terms"):
        tfidf_topk(one, [0], top_k=1, n_docs=1)  # max_df = int(0.5*1) = 0 < min_df
    # … with derived-in-plan N it fires lazily, at the first action
    lazy = tfidf_topk(one, [0], top_k=1)
    with pytest.raises(Exception, match="keeps NO terms"):
        lazy.collect()


def test_tfidf_build_runs_no_job(spark):
    """Operator construction is plan-only: deriving N in-plan (instead of
    an eager base.count()) means no Spark job runs until the caller acts
    on the result (VERDICT r04 item 3)."""
    from kafka_workers_spark.operators.text import tfidf_topk, tfidf_weights
    from kafka_workers_spark.sources.files import load_table

    sc = spark.sparkContext
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    sc.setJobGroup("tfidf-build-probe", "assert no eager action")
    try:
        tfidf_weights(docs)
        tfidf_topk(docs, [0, 1], top_k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("tfidf-build-probe")) == []


def test_dedup_paragraphs_corpus_scope_plans_no_window(spark):
    """The corpus-scope first-occurrence decision must be a partial
    min(struct) aggregate, not a digest-partitioned window: a hot
    boilerplate digest then costs one row per map partition instead of
    piling its full (id, pos) set onto one sort task (VERDICT r04 #1)."""
    from kafka_workers_spark.operators.text import dedup_paragraphs
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    plan = audit(dedup_paragraphs(docs))
    import re

    assert not re.search(r"^\(\d+\) Window\b", plan.text, re.MULTILINE), plan.text[:2000]
    assert re.search(r"partial_min\(", plan.text) or re.search(
        r"Functions \[partial[^\]]*min\(", plan.text
    ), plan.text[:2000]


# ---------------------------------------------------------------------------
# dedup_substrings (Lee et al. 2021 ExactSubstr, token-aligned)
# ---------------------------------------------------------------------------


def _subdup_corpus(spark):
    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"intro one {span} tail one"),
        (2, f"different head {span} different tail"),
        (3, "completely unique text with  double space preserved"),
        (4, "short doc"),
        (5, span),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_substrings_keeps_first_occurrence_only(spark):
    """A repeated 8-token run survives in the lowest-(doc,pos) document
    only; every other copy is cut with the surrounding text reassembled."""
    from kafka_workers_spark.operators.text import dedup_substrings

    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in dedup_substrings(_subdup_corpus(spark), k=8).collect()
    }
    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    assert got[1] == (f"intro one {span} tail one", 12, 0)  # first occurrence kept
    assert got[2] == ("different head different tail", 12, 8)
    assert got[5] == ("", 8, 8)  # wholly-duplicated doc empties out
    # unique docs round-trip byte-identically (incl. the double space)
    assert got[3] == ("completely unique text with  double space preserved", 8, 0)
    # below-k docs never enter the window path
    assert got[4] == ("short doc", 2, 0)


def test_dedup_substrings_long_run_cut_whole(spark):
    """A duplicated run LONGER than k is covered by its overlapping
    k-windows and removed end to end, not just the first k tokens."""
    from kafka_workers_spark.operators.text import dedup_substrings

    run = " ".join(f"w{i}" for i in range(12))  # 12-token duplicated run
    df = spark.createDataFrame(
        [(1, f"keep {run}"), (2, f"other {run} ending")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_removed) for r in dedup_substrings(df, k=8).collect()}
    assert got[1] == (f"keep {run}", 0)
    assert got[2] == ("other ending", 12)


def test_dedup_substrings_plans_no_window(spark):
    """Same skew discipline as dedup_paragraphs: the first-occurrence
    decision must be a partial min(struct)+count aggregate keyed by the
    window hash, never a hash-partitioned window function (a boilerplate
    window repeated millions of times would otherwise sort its whole
    occurrence set on one task)."""
    import re

    from kafka_workers_spark.operators.text import dedup_substrings
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    plan = audit(dedup_substrings(docs, k=8))
    assert not re.search(r"^\(\d+\) Window\b", plan.text, re.MULTILINE), plan.text[:2000]
    assert re.search(r"partial_min\(", plan.text) or re.search(
        r"Functions \[partial[^\]]*min\(", plan.text
    ), plan.text[:2000]
    assert plan.cartesian_products == 0 and plan.python_evals == 0


# ---------------------------------------------------------------------------
# bigram_lm_score (CCNet-style model-based quality, Wenzek et al. 2020)
# ---------------------------------------------------------------------------


def _py_bigram_reference(rows, alpha=1.0, train=lambda doc_id: True):
    """Pure-Python reference model: add-alpha smoothed bigram LM over
    normalized whitespace tokens, trained on ``train``-selected docs."""
    import math
    import re
    from collections import Counter

    def norm(t):
        t = re.sub(r"[^a-z0-9 ]", "", t.lower())
        return [x for x in re.sub(r" +", " ", t).strip().split(" ") if x]

    toks = {r.doc_id: norm(r.text) for r in rows}
    cb, cc = Counter(), Counter()
    for did, ts in toks.items():
        if not train(did):
            continue
        for a, b in zip(ts, ts[1:]):
            cb[(a, b)] += 1
            cc[a] += 1
    vocab = len({t for pair in cb for t in pair})
    out = {}
    for did, ts in toks.items():
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            out[did] = (0, 0, 0, 0, None, None)
            continue
        lp = sum(
            math.log((cb[bg] + alpha) / (cc[bg[0]] + alpha * vocab)) for bg in bgs
        ) / len(bgs)
        out[did] = (
            len(bgs),
            sum(1 for bg in bgs if cb[bg] == 0),
            sum(cb[bg] for bg in bgs),
            sum(cc[bg[0]] for bg in bgs),
            lp,
            math.exp(-lp),
        )
    return out


def test_bigram_lm_self_score_matches_python_reference(spark):
    """Self-scored LM over the test corpus: integer transition stats match
    the Python reference EXACTLY; avg_logprob/ppl within 1e-9 (ln() is
    libm — last-ulp differences are why the floats are differential- not
    oracle-tested)."""
    from kafka_workers_spark.operators.text import bigram_lm_score
    from kafka_workers_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    expected = _py_bigram_reference(docs.collect())
    got = {
        r.doc_id: (r.n_bigrams, r.n_unseen, r.sum_bigram_count, r.sum_context_count,
                   r.avg_logprob, r.ppl)
        for r in bigram_lm_score(docs).collect()
    }
    assert set(got) == set(expected)
    for did, exp in expected.items():
        g = got[did]
        assert g[:4] == exp[:4], (did, g[:4], exp[:4])
        if exp[4] is None:
            assert g[4] is None and g[5] is None
        else:
            assert abs(g[4] - exp[4]) < 1e-9, (did, g[4], exp[4])
            assert abs(g[5] - exp[5]) / exp[5] < 1e-9, (did, g[5], exp[5])
    # self-scoring means every observed transition is in the model
    assert all(v[1] == 0 for v in got.values())


def test_bigram_lm_ref_corpus_flags_unseen_transitions(spark):
    """Training on a reference corpus and scoring a disjoint one: unseen
    transitions get the floor probability alpha/(c(prev)+alpha*V) and are
    counted; a gibberish doc scores strictly higher perplexity than an
    in-distribution one."""
    from pyspark.sql import functions as F

    from kafka_workers_spark.operators.text import bigram_lm_score

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(1, 6)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [
            (100, "the quick brown fox"),          # fully in-distribution
            (101, "zz qq xx vv kk"),               # gibberish: all unseen
            (102, "solo"),                          # < 2 tokens: NULL floats
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_lm_score(target, ref_docs=ref).collect()}
    assert got[100].n_unseen == 0 and got[100].n_bigrams == 3
    assert got[101].n_unseen == 4 and got[101].sum_bigram_count == 0
    assert got[102].n_bigrams == 0 and got[102].ppl is None
    assert got[101].ppl > got[100].ppl
    # expected floor: ref has V=8 distinct transition tokens, unseen ctx -> 1/V
    import math
    assert abs(got[101].avg_logprob - math.log(1.0 / 8.0)) < 1e-12


def test_bigram_lm_build_runs_no_job(spark):
    """Same job-free-build contract as tfidf_weights: counts, derived V
    (one-row broadcast) and the scoring joins are all in-plan — operator
    construction runs NO Spark job, and the plan stays window-free and
    Python-free."""
    from kafka_workers_spark.operators.text import bigram_lm_score, dedup_substrings
    from kafka_workers_spark.plans import audit
    from kafka_workers_spark.sources.files import load_table

    sc = spark.sparkContext
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    sc.setJobGroup("lm-build-probe", "assert no eager action")
    try:
        out = bigram_lm_score(docs)
        out_ref = bigram_lm_score(docs, ref_docs=docs.limit(100))
        sub = dedup_substrings(docs, k=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("lm-build-probe")) == []
    for frame in (out, out_ref, sub):
        a = audit(frame)
        assert a.cartesian_products == 0 and a.python_evals == 0


def test_dedup_substrings_property_matches_python_reference(spark):
    """Randomized corpora over a 3-token alphabet (duplicated runs arise
    constantly) checked against a direct Python model of the semantics:
    every non-first occurrence of a duplicated k-window is covered;
    covered positions are cut; texts reassemble in order. Sampled-batch
    style (one Spark round-trip per corpus, like test_merge's golden
    randomization)."""
    import warnings

    from hypothesis import strategies as st
    from hypothesis.errors import NonInteractiveExampleWarning

    from kafka_workers_spark.operators.text import dedup_substrings

    K = 3
    corpus_st = st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
        min_size=1,
        max_size=12,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", NonInteractiveExampleWarning)
        corpora = [corpus_st.example() for _ in range(5)]
    # hand-picked regressions: all-identical docs, empty docs, exact-k docs
    corpora.append([["a"] * 5, ["a"] * 5, [], ["a", "b", "c"], ["a", "b", "c"]])

    for toks_by_doc in corpora:
        texts = [(i, " ".join(ts)) for i, ts in enumerate(toks_by_doc)]

        def reference(rows, k):
            count: dict = {}
            first: dict = {}
            for did, text in rows:
                ts = text.split(" ")
                for p in range(len(ts) - k + 1):
                    key = tuple(ts[p : p + k])
                    count[key] = count.get(key, 0) + 1
                    first.setdefault(key, (did, p))
            out = {}
            for did, text in rows:
                ts = text.split(" ")
                cov = set()
                for p in range(len(ts) - k + 1):
                    key = tuple(ts[p : p + k])
                    if count[key] > 1 and first[key] != (did, p):
                        cov.update(range(p, p + k))
                kept = [t for i, t in enumerate(ts) if i not in cov]
                out[did] = (" ".join(kept), len(ts), len(cov))
            return out

        expected = reference(texts, K)
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_tokens, r.n_removed)
            for r in dedup_substrings(df, k=K).collect()
        }
        assert got == expected, f"corpus={texts}"


def test_dedup_substrings_document_scope(spark):
    """scope="document": a run repeated twice INSIDE one document loses
    its second copy, but the same run appearing once in each of two
    documents survives in both (cross-document repeats are corpus
    scope's job)."""
    import pytest

    from kafka_workers_spark.operators.text import dedup_substrings

    run = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    df = spark.createDataFrame(
        [(1, f"{run} middle {run}"), (2, f"also has {run} once")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in dedup_substrings(df, k=8, scope="document").collect()
    }
    assert got[1] == (f"{run} middle", 8)
    assert got[2] == (f"also has {run} once", 0)
    # corpus scope on the same frame also cuts doc 2's copy
    got_c = {
        r.doc_id: r.n_removed for r in dedup_substrings(df, k=8, scope="corpus").collect()
    }
    assert got_c == {1: 8, 2: 8}
    with pytest.raises(ValueError):
        dedup_substrings(df, scope="page")


def test_blocklist_filter_c4_rule_and_threshold(spark):
    """C4 default (max_fraction=0.0): any hit drops the page; a small
    positive threshold spares a document with one quoted word; the
    lexicon matches in NORMALIZED space (punctuation and case do not
    hide a hit); token-less docs always survive."""
    import pytest

    from kafka_workers_spark.operators.text import blocklist_filter, blocklist_metrics

    docs = spark.createDataFrame(
        [
            (1, "perfectly clean text here"),
            (2, "one Bad-Word! among twenty other perfectly acceptable words "
                "of ordinary prose in this sentence overall today"),
            (3, "badword badword badword"),
            (4, "???"),
        ],
        "doc_id long, text string",
    )
    lex = ("badword",)
    m = {r.doc_id: (r.n_blocked, r.blocked_fraction) for r in blocklist_metrics(docs, lex).collect()}
    assert m[1] == (0, 0.0)
    assert m[2][0] == 1  # "Bad-Word!" normalizes to "badword"
    assert m[3] == (3, 1.0)
    assert m[4] == (0, 0.0)  # normalizes to empty: no tokens, fraction 0
    strict = {r.doc_id for r in blocklist_filter(docs, lex).collect()}
    assert strict == {1, 4}
    lenient = {r.doc_id for r in blocklist_filter(docs, lex, max_fraction=0.1).collect()}
    assert lenient == {1, 2, 4}
    with pytest.raises(ValueError):
        blocklist_filter(docs, lex, max_fraction=1.5)


def test_blocklist_filter_preserves_caller_audit_columns(spark):
    """blocklist_filter uses reserved internal names, so a caller's own
    n_blocked/blocked_fraction audit columns (e.g. from a prior
    blocklist_metrics pass with a different lexicon) ride through."""
    from kafka_workers_spark.operators.text import blocklist_filter, blocklist_metrics

    docs = spark.createDataFrame(
        [(1, "clean text"), (2, "badword here")], "doc_id long, text string"
    )
    audited = blocklist_metrics(docs, ("unrelated",))  # all zeros, kept as audit
    out = blocklist_filter(audited, ("badword",)).collect()
    assert {r.doc_id for r in out} == {1}
    assert out[0].n_blocked == 0 and out[0].blocked_fraction == 0.0


def test_dedup_substrings_rejects_degenerate_k(spark):
    import pytest

    from kafka_workers_spark.operators.text import dedup_substrings

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, 1, -3):
        with pytest.raises(ValueError, match="k must be >= 2"):
            dedup_substrings(docs, k=bad)


def _py_dsir_reference(rows, target_mod=10, n_buckets=4096, alpha=1.0):
    """Plain-Python DSIR reference model (Xie et al. 2023): hashed
    unigram+bigram counts, add-alpha smoothed target/background bucket
    models, per-doc summed log ratio."""
    import hashlib
    import math
    import re
    from collections import Counter

    def toks(text):
        if text is None:
            return []
        t = text.lower()
        t = re.sub(r"[^a-z0-9 ]", "", t)
        t = re.sub(r" +", " ", t).strip()
        return [w for w in t.split(" ") if w]

    def buckets(text):
        ts = toks(text)
        feats = ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        return [
            int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % n_buckets
            for f in feats
        ]

    tc, qc = Counter(), Counter()
    for r in rows:
        bs = buckets(r.text)
        qc.update(bs)
        if r.doc_id % target_mod == 0:
            tc.update(bs)
    T, Q = sum(tc.values()), sum(qc.values())
    out = {}
    for r in rows:
        bs = buckets(r.text)
        if not bs:
            out[r.doc_id] = (0, 0, 0, None)
            continue
        lw = sum(
            math.log(tc[b] + alpha) - math.log(T + alpha * n_buckets)
            - math.log(qc[b] + alpha) + math.log(Q + alpha * n_buckets)
            for b in bs
        )
        out[r.doc_id] = (len(bs), sum(tc[b] for b in bs), sum(qc[b] for b in bs), lw)
    return out


def test_dsir_weights_match_python_reference(spark):
    """Integer feature/count columns match the reference EXACTLY;
    log_weight within 1e-9 (libm ln() — the bigram_lm float discipline)."""
    from kafka_workers_spark.operators.text import dsir_weights
    from kafka_workers_spark.sources.files import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    expected = _py_dsir_reference(d.collect())
    got = {
        r.doc_id: (r.n_feats, r.sum_target_count, r.sum_background_count, r.log_weight)
        for r in dsir_weights(
            d, d.filter(F.col("doc_id") % 10 == 0), n_buckets=4096
        ).collect()
    }
    assert set(got) == set(expected)
    for did, exp in expected.items():
        g = got[did]
        assert g[:3] == exp[:3], (did, g[:3], exp[:3])
        if exp[3] is None:
            assert g[3] is None
        else:
            assert abs(g[3] - exp[3]) < 1e-9, (did, g[3], exp[3])


def test_dsir_resample_is_deterministic_gumbel_topk(spark):
    """The Gumbel-top-k selection is a pure function of (seed, ids,
    weights): re-runs select identical docs, the selection equals the
    Python-computed top-k of log_weight + gumbel(md5 coin), and a
    different seed draws a different sample."""
    import hashlib
    import math

    from kafka_workers_spark.operators.text import dsir_resample, dsir_weights
    from kafka_workers_spark.sources.files import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    w = dsir_weights(d, d.filter(F.col("doc_id") % 10 == 0), n_buckets=4096).cache()
    k = 25
    sel1 = sorted(r.doc_id for r in dsir_resample(w, k=k).collect())
    sel2 = sorted(r.doc_id for r in dsir_resample(w, k=k).collect())
    assert sel1 == sel2 and len(sel1) == k

    def gumbel(seed, did):
        h = hashlib.md5(f"{seed}|{did}".encode()).hexdigest()[:15]
        u = (int(h, 16) + 0.5) / float(1 << 60)
        return -math.log(-math.log(u))

    ref = sorted(
        (
            (r.log_weight + gumbel("dsir", r.doc_id), r.doc_id)
            for r in w.collect()
            if r.log_weight is not None
        ),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    assert sel1 == sorted(did for _, did in ref)
    other = sorted(r.doc_id for r in dsir_resample(w, k=k, seed="fresh").collect())
    assert other != sel1
    w.unpersist()


def _py_bpe_reference(texts, n_merges):
    """Plain-Python Sennrich et al. Algorithm 1: character-level word
    vocab with counts, repeatedly merge the most frequent adjacent pair
    (ties lexicographic on the pair)."""
    import re
    from collections import Counter

    splitter = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")
    wc = Counter(w for t in texts if t for w in splitter.findall(t))
    vocab = {w: list(w) for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wc[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        if cnt < 2:
            break
        merges.append((l, r))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_python_reference_and_encode_roundtrips(spark):
    """The distributed merge loop learns EXACTLY the reference's merge
    sequence (deterministic tie-break pinned), and bpe_encode applied
    with those merges (a) reproduces rank-ordered application on known
    words, (b) concatenates back to the original pre-token stream
    (token-boundary-only transformation — no text is lost)."""
    from kafka_workers_spark.operators.text import bpe_encode, bpe_train
    from kafka_workers_spark.sources.files import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    texts = [r.text for r in d.collect()]
    n = 8  # enough to exercise ties + the rewrite loop; each merge is a job
    expected = _py_bpe_reference(texts, n)
    got = bpe_train(d, n_merges=n)
    assert got == expected, (got, expected)

    enc = bpe_encode(d, got)
    import re

    splitter = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")
    rows = enc.select("doc_id", "text", "bpe_tokens").collect()
    assert len(rows) == len(texts)
    for r in rows:
        # concatenation invariant: tokens re-join to the pre-token stream
        assert "".join(r.bpe_tokens) == "".join(splitter.findall(r.text or ""))
        # every token is either a learned merge product or a single char
        learned = {l + rr for l, rr in got}
        assert all(len(t) == 1 or t in learned for t in r.bpe_tokens), r.bpe_tokens


def test_bpe_train_plan_matches_python_reference(spark):
    """The lazily-unrolled one-plan trainer learns EXACTLY the
    reference's merge sequence on real documents — same corpus and
    rule count as the driver-loop test above, so the two Spark forms
    and the Python reference are pinned three ways."""
    from kafka_workers_spark.operators.text import bpe_train_plan
    from kafka_workers_spark.sources.files import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select("text")
    texts = [r.text for r in d.collect()]
    n = 8
    expected = _py_bpe_reference(texts, n)
    rows = bpe_train_plan(d, n_merges=n).orderBy("merge_rank").collect()
    assert [(r.lhs, r.rhs) for r in rows] == expected
    assert [r.merge_rank for r in rows] == list(range(1, n + 1))
    assert all(r.merged == r.lhs + r.rhs for r in rows)


def test_bpe_train_plan_run_parity_overlap(spark):
    """The l = r overlap class the greedy fold must resolve left-first:
    runs of one character merge at even offsets only ('aaaaa' →
    [aa][aa][a]), and later rounds merge the MERGED symbol's runs
    ((aa,aa), (aa,a) …) — the corpus is built so single-character runs
    dominate the argmax for several consecutive rounds, checked against
    the Python reference at every depth."""
    from kafka_workers_spark.operators.text import bpe_train_plan

    # ×2 so every round's argmax count stays ≥ 2 — the plan form has no
    # early stop, so the Python reference (which stops below 2) must be
    # kept in its running regime for the sequences to be comparable;
    # the duplication also lands several pairs ON the tie count,
    # exercising the lexicographic break at depth 3-4
    texts = ["aaaaa aaaa aaa baab", "aaaaaa caa aaaa"] * 2
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    for n in (1, 2, 3, 4):
        expected = _py_bpe_reference(texts, n)
        got = [
            (r.lhs, r.rhs)
            for r in bpe_train_plan(df, n_merges=n).orderBy("merge_rank").collect()
        ]
        assert got == expected, (n, got, expected)


_CHARS_LIMIT = "kafka_workers_spark.operators.text._LOCAL_MAX_CHARS"


def _seeded_corpus(seed: int, n_docs: int = 40) -> list[str | None]:
    """Documents over a small alphabet (so pair counts tie often), with
    digit runs, punctuation, NULL texts and non-BMP characters."""
    import random

    rng = random.Random(seed)
    alphabet = "aab" + "cd" * seed + "\U0001F600\u00e9"
    docs = []
    for _ in range(n_docs):
        if rng.random() < 0.1:
            docs.append(None)
            continue
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(0, 8))
        ]
        docs.append(" ".join(words) + rng.choice(["", " 123", "!", " x9"]))
    return docs


_BPE_CORPORA = {
    "seed1": _seeded_corpus(1),
    "seed2": _seeded_corpus(2),
    "seed3": _seeded_corpus(3),
    "runs": ["aaaa aaa aaaaa", "aaaaaa baab", None],
    "ties": ["ab cd ef", "ab cd ef", "gh"],
    "non_bmp": ["\U0001F600\U0001F600 a\U0001F600b", "\U00010348x \U00010348\U00010348"],
    "null_only": [None, None],
    "empty": [],
}


def _bpe_both(spark, monkeypatch, texts, fn):
    """``fn(docs)`` on the one-task path, then on the forced Spark loop."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    local = fn(df)
    with monkeypatch.context() as m:
        m.setattr(_CHARS_LIMIT, -1)
        loop = fn(df)
    return local, loop


@pytest.mark.parametrize("corpus", sorted(_BPE_CORPORA))
def test_bpe_one_task_path_matches_forced_loop(spark, monkeypatch, corpus):
    """The one-task solver and the Spark round loop learn bit-identical
    merge tables — ranks, spellings and counts, at every depth up to
    exhaustion — and the eager form agrees with its own loop, early stop
    included. Corpora: seeded tie-heavy vocabularies, l == r runs, exact
    count ties, NULL texts, an empty corpus and non-BMP characters
    (Spark's ``split(word, '')`` and Python's ``list(word)`` both split
    by code point)."""
    from kafka_workers_spark.operators.text import bpe_train, bpe_train_plan

    texts = _BPE_CORPORA[corpus]
    for n in (1, 4, 30):
        local, loop = _bpe_both(
            spark, monkeypatch, texts,
            lambda d: [tuple(r) for r in bpe_train_plan(d, n).orderBy("merge_rank").collect()],
        )
        assert local == loop, (corpus, n, local, loop)
        assert [r[0] for r in local] == list(range(1, len(local) + 1))
    for min_count in (1, 2, 3):
        local, loop = _bpe_both(
            spark, monkeypatch, texts, lambda d: bpe_train(d, 12, min_pair_count=min_count)
        )
        assert local == loop, (corpus, min_count, local, loop)


def test_bpe_one_task_path_learns_the_full_table_and_stops(spark):
    """The default (one-task) plan on a corpus with few pairs: every
    merge is learned, then the table ends when no pair is left — a
    30-round request returns the exhaustive table, same as the Python
    reference."""
    from kafka_workers_spark.operators.text import bpe_train_plan

    texts = ["abc abc ab", "bcd"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = bpe_train_plan(df, 30).orderBy("merge_rank").collect()
    assert [(r.lhs, r.rhs) for r in rows] == [("a", "b"), ("ab", "c"), ("b", "c"), ("bc", "d")]
    assert [r.cnt for r in rows] == [3, 2, 1, 1]
    assert [r.merged for r in rows] == ["ab", "abc", "bc", "bcd"]


def test_bpe_merges_solver_matches_brute_force_recount():
    """The incremental solver (heap + pair-to-word index) against a
    recount-everything reference on random vocabularies: same rules and
    counts, including code-point tie order across non-BMP symbols."""
    import random
    from collections import Counter

    from kafka_workers_spark.operators.text import _bpe_merge_pair, _bpe_merges

    def brute(words, counts, n, min_count):
        vocab = [list(w) for w in words]
        out = []
        for _ in range(n):
            pairs = Counter()
            for syms, c in zip(vocab, counts):
                for p in zip(syms, syms[1:]):
                    pairs[p] += c
            if not pairs:
                break
            (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            if c < min_count:
                break
            out.append((l, r, c))
            vocab = [_bpe_merge_pair(s, l, r) for s in vocab]
        return out

    for seed in range(25):
        rng = random.Random(seed)
        alphabet = rng.sample("abcde\U0001F600\U00010348\u00e9z", rng.randint(2, 6))
        words = list({
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(0, 60))
        })
        counts = [rng.randint(1, 5) for _ in words]
        for n, min_count in ((40, 1), (10, 2)):
            assert _bpe_merges(words, counts, n, min_count) == brute(words, counts, n, min_count), seed


def test_bpe_encode_applies_merges_in_learned_order(spark):
    """Rank order, not positional greed: on 'abc' with merges
    [(b,c), (a,b)], rank 0 is (b,c), so the encode must produce
    ['a', 'bc'] — a left-to-right positional scan would apply (a,b)
    first and yield ['ab', 'c'], the classic BPE-encode bug. Chained
    ranks still cascade: [(a,b), (ab,c)] fully merges to ['abc']."""
    from kafka_workers_spark.operators.text import bpe_encode

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    ranked = bpe_encode(df, [("b", "c"), ("a", "b")]).first().bpe_tokens
    assert ranked == ["a", "bc"]
    chained = bpe_encode(df, [("a", "b"), ("ab", "c")]).first().bpe_tokens
    assert chained == ["abc"]


def test_phrase_scores_known_answer(spark):
    """Hand-computed word2phrase lifts on a tiny corpus: 'new york'
    co-occurs every time either token appears (lift >> 1 → phrase);
    'the cat' co-occurs at chance (lift ~ 1 → not a phrase); a pair at
    or below the delta discount can never be a phrase."""
    from kafka_workers_spark.operators.text import phrase_scores

    docs = spark.createDataFrame(
        [("new york is big",), ("new york is old",), ("the cat sat",), ("the dog sat",)],
        ["text"],
    )
    # N = 14 tokens; counts: new=2 york=2 is=2 the=2 sat=2 big/old/cat/dog=1
    got = {
        (r.lhs, r.rhs): r
        for r in phrase_scores(docs, delta=1, threshold=(3, 2), min_count=1).collect()
    }
    ny = got[("new", "york")]
    assert (ny.pair_cnt, ny.lhs_cnt, ny.rhs_cnt) == (2, 2, 2)
    assert ny.score == (2 - 1) * 14 / (2 * 2) == 3.5 and ny.is_phrase
    yi = got[("york", "is")]  # same counts → same lift
    assert yi.is_phrase
    cs = got[("cat", "sat")]  # (1-1)*14/(1*2) = 0: at the delta discount
    assert cs.score == 0.0 and not cs.is_phrase


def test_phrase_scores_rejects_bad_params(spark):
    from kafka_workers_spark.operators.text import phrase_scores

    docs = spark.createDataFrame([("a b",)], ["text"])
    with pytest.raises(ValueError, match="delta"):
        phrase_scores(docs, delta=-1)
    with pytest.raises(ValueError, match="threshold"):
        phrase_scores(docs, threshold=(1, 0))


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------


def test_bm25_prefers_rare_terms_and_penalizes_length(spark):
    """The two properties that make BM25 BM25: (a) matching a RARE query
    term outranks matching a corpus-common one (idf), and (b) between two
    docs with the same matching tf, the SHORTER one ranks higher (length
    normalization) — neither of which raw term counting gives."""
    from kafka_workers_spark.operators.text import bm25_topk

    pad = "aaa bbb ccc ddd eee fff ggg hhh"  # padding terms, off-query
    docs = spark.createDataFrame(
        [
            (0, "zebra common quark"),                 # the query
            (1, "zebra common " + pad),                # rare term tf=1, LONG
            (2, "zebra common"),                       # rare term tf=1, short
            (3, "common common " + pad),               # common tf=2, LONG
            (4, "common common"),                      # common tf=2, short
            (5, "unrelated words entirely different"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, [0], top_k=5, max_df_fraction=0.9).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    scores = {r.neighbor_id: r.score6 for r in out}
    # rare-term docs beat common-only docs (idf)
    assert set(ranked[:2]) == {1, 2}
    # identical tf pairs: the shorter doc wins the length normalization
    assert scores[2] > scores[1]
    assert scores[4] > scores[3]
    # doc 5 shares no kept term with the query: absent or zero
    assert 5 not in scores or scores[5] == 0


def test_hashed_doc_vectors_dense_integer_and_deterministic(spark):
    """Vectors are DENSE (every (doc, 0..dim-1) component present, zeros
    materialized), all-integer, deterministic across runs, and docs with
    no kept terms are absent (they have no TF-IDF row to hash)."""
    from kafka_workers_spark.operators.text import hashed_doc_vectors

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta"), (3, "")],
        "doc_id long, text string",
    )
    dim = 8
    out = hashed_doc_vectors(docs, dim=dim, max_df_fraction=1.0)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.i] = r.x
    assert set(by_doc) == {1, 2}  # doc 3 tokenizes to nothing
    for comps in by_doc.values():
        assert set(comps) == set(range(dim))
        assert all(isinstance(v, int) for v in comps.values())
    assert any(v != 0 for v in by_doc[1].values())
    again = {(r.doc_id, r.i): r.x for r in hashed_doc_vectors(
        docs, dim=dim, max_df_fraction=1.0).collect()}
    assert again == {(d, i): x for d, comps in by_doc.items() for i, x in comps.items()}
    import pytest as _pt

    with _pt.raises(ValueError, match="dim"):
        hashed_doc_vectors(docs, dim=0)


def test_bm25_merged_index_equals_whole_pass_and_guards_overlap(spark):
    """bm25_merge_index over disjoint halves searches identically to an
    index built over the whole corpus in one pass; overlapping document
    ids raise in-plan at first search instead of silently double-counting
    df/stats."""
    import pytest as _pt

    from kafka_workers_spark.operators.text import (
        bm25_index,
        bm25_merge_index,
        bm25_topk,
        bm25_topk_indexed,
    )

    docs = spark.createDataFrame(
        [
            (0, "zebra common quark"),
            (1, "zebra common alpha beta"),
            (2, "zebra common"),
            (3, "common gamma delta"),
            (4, "common common epsilon"),
            (5, "unrelated words entirely different"),
        ],
        "doc_id long, text string",
    )
    whole = bm25_topk(docs, [0], top_k=5, max_df_fraction=0.9).collect()
    merged_idx = bm25_merge_index(
        bm25_index(docs.filter("doc_id % 2 = 0")),
        bm25_index(docs.filter("doc_id % 2 = 1")),
    )
    merged = bm25_topk_indexed(merged_idx, [0], top_k=5, max_df_fraction=0.9).collect()
    assert sorted(map(tuple, merged), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, whole), key=lambda t: (t[0], t[2])
    )
    overlapping = bm25_merge_index(bm25_index(docs), bm25_index(docs.filter("doc_id < 2")))
    with _pt.raises(Exception, match="share document ids"):
        bm25_topk_indexed(overlapping, [0], top_k=3, max_df_fraction=0.9).collect()


def test_bm25_index_parquet_roundtrip_then_merge_and_search(spark, tmp_path):
    """bm25_write_index/bm25_read_index round-trip: index half the
    corpus, persist it, reload it in a fresh read path, merge with a
    NEWER batch's index, and search — identical to the whole-pass
    search, i.e. the stored index really is the index-once / search-many
    shape (the ingest-restart analog of the reference's stored offsets
    contract, impl/offsets/DefaultOffsetsState.java)."""
    from kafka_workers_spark.operators.text import (
        bm25_index,
        bm25_merge_index,
        bm25_read_index,
        bm25_topk,
        bm25_topk_indexed,
        bm25_write_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "zebra common quark"),
            (1, "zebra common alpha beta"),
            (2, "zebra common"),
            (3, "common gamma delta"),
            (4, "common common epsilon"),
            (5, "unrelated words entirely different"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25_index")
    bm25_write_index(bm25_index(docs.filter("doc_id % 2 = 0")), path)
    stored = bm25_read_index(spark, path)
    assert stored.id_col == "doc_id"
    merged = bm25_merge_index(stored, bm25_index(docs.filter("doc_id % 2 = 1")))
    got = bm25_topk_indexed(merged, [0], top_k=5, max_df_fraction=0.9).collect()
    whole = bm25_topk(docs, [0], top_k=5, max_df_fraction=0.9).collect()
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, whole), key=lambda t: (t[0], t[2])
    )
    # overwrite mode re-ingests in place (from source data — a stored
    # index cannot overwrite its own path, its frames still read from
    # it); default mode refuses an existing path
    bm25_write_index(bm25_index(docs), path, mode="overwrite")
    with pytest.raises(Exception):
        bm25_write_index(bm25_index(docs), path)


def test_bm25_read_index_rejects_unknown_layout_version(spark, tmp_path):
    from kafka_workers_spark.operators.text import (
        bm25_index,
        bm25_read_index,
        bm25_write_index,
    )

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    path = str(tmp_path / "idx")
    bm25_write_index(bm25_index(docs), path)
    spark.createDataFrame([("doc_id", 999)], "id_col string, version int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="layout version"):
        bm25_read_index(spark, path)


def _kn_python_reference(corpus: dict, ref_ids, dn=3, dd=4, s=10**9):
    """Literal interpolated-KN replay (Chen & Goodman 1998 §2.7) in
    integer arithmetic — the kneser_ney_score contract."""
    import re
    from collections import Counter

    def toks(t):
        t = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", "", t.lower())).strip()
        return [x for x in t.split(" ") if x]

    cb = Counter()
    for did in ref_ids:
        ts = toks(corpus[did])
        for a, b in zip(ts, ts[1:]):
            cb[(a, b)] += 1
    c1, fwd, bwd = Counter(), Counter(), Counter()
    for (a, b), c in cb.items():
        c1[a] += c
        fwd[a] += 1
        bwd[b] += 1
    t = len(cb)
    out = {}
    for did, text in corpus.items():
        ts = toks(text)
        n = uc = ub = sp = 0
        for a, b in zip(ts, ts[1:]):
            n += 1
            if c1[a] > 0:
                num = (max(dd * cb[(a, b)] - dn, 0) * t + dn * fwd[a] * bwd[b]) * s
                sp += num // (dd * c1[a] * t)
            else:
                uc += 1
                sp += bwd[b] * s // t if t else 0
            ub += cb[(a, b)] == 0
        out[did] = (n, uc, ub, sp)
    return out


def test_kneser_ney_matches_python_reference_with_unseen_paths(spark):
    """Held-out scoring exercises every arm: seen bigrams, unseen bigram
    in a seen context (the interpolation term), unseen context (pure
    continuation backoff), and a fully-unknown token (p9 = 0)."""
    from kafka_workers_spark.operators.text import kneser_ney_score

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on a rug",
        3: "a cat ran",
        4: "the cat ran home quickly",   # 'ran home' unseen bigram; 'home quickly' unseen context
        5: "xyzzy the cat",              # unknown token context
        6: "",
    }
    ref_ids = [1, 2, 3]
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    ref = docs.filter(F.col("doc_id") <= 3)
    got = {
        r.doc_id: (r.n_bigrams, r.n_unseen_context, r.n_unseen_bigram, r.sum_p9)
        for r in kneser_ney_score(docs, ref_docs=ref).collect()
    }
    assert got == _kn_python_reference(corpus, ref_ids)
    # the unseen paths actually fired
    assert got[4][2] > 0 and got[5][1] > 0


def test_kneser_ney_guards(spark):
    from kafka_workers_spark.operators.text import KN_SCALE, kneser_ney_score
    from kafka_workers_spark.queries.text import _KN_S

    assert _KN_S == KN_SCALE  # query oracle constant pinned to the operator
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="discount"):
        kneser_ney_score(docs, discount=(4, 4))
    empty_ref = spark.createDataFrame([(9, "solo")], "doc_id long, text string")
    with pytest.raises(Exception, match="no bigrams"):
        kneser_ney_score(docs, ref_docs=empty_ref).collect()


def test_phrase_search_counts_and_overlaps(spark):
    """Known-answer phrase counts including overlapping matches, repeated
    phrase terms, and the three-term join path; empty phrase raises."""
    from kafka_workers_spark.operators.text import phrase_search, positional_index

    docs = spark.createDataFrame(
        [
            (1, "big cat big cat big"),   # "big cat" x2; "big cat big" x2 (overlap)
            (2, "cat big"),                # reversed -> no match
            (3, "big big big"),            # repeated term: "big big" x2
            (4, None),
        ],
        "doc_id long, text string",
    )
    idx = positional_index(docs)
    two = {r.doc_id: r.n_matches for r in phrase_search(idx, ["big", "cat"]).collect()}
    assert two == {1: 2}
    three = {r.doc_id: r.n_matches for r in phrase_search(idx, ["big", "cat", "big"]).collect()}
    assert three == {1: 2}
    rep = {r.doc_id: r.n_matches for r in phrase_search(idx, ["big", "big"]).collect()}
    assert rep == {3: 2}
    with pytest.raises(ValueError, match="phrase"):
        phrase_search(idx, [])


def test_proximity_search_banded_equals_naive_and_edges(spark):
    """The bucket-banded plan equals a brute-force Python replay on a
    randomized corpus (pairs never double-count across the 3-bucket
    explode), same-term pairs are unordered, window guard raises."""
    import random

    from kafka_workers_spark.operators.text import positional_index, proximity_search

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc"]
    corpus = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for i in range(30)
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    idx = positional_index(docs)
    for ta, tb, w in [("aa", "bb", 3), ("aa", "aa", 5), ("bb", "cc", 1)]:
        got = {
            r.doc_id: (r.n_pairs, r.min_dist)
            for r in proximity_search(idx, ta, tb, window=w).collect()
        }
        expect = {}
        for did, text in corpus.items():
            toks = text.split() if text else []
            pa = [i for i, t in enumerate(toks) if t == ta]
            pb = [i for i, t in enumerate(toks) if t == tb]
            if ta == tb:
                pairs = [(x, y) for x in pa for y in pb if x < y and y - x <= w]
            else:
                pairs = [(x, y) for x in pa for y in pb if x != y and abs(x - y) <= w]
            if pairs:
                expect[did] = (len(pairs), min(abs(x - y) for x, y in pairs))
        assert got == expect, (ta, tb, w)
    with pytest.raises(ValueError, match="window"):
        proximity_search(idx, "aa", "bb", window=0)


def test_boolean_search_clause_algebra(spark):
    """AND/OR/NOT clause combinations against hand-enumerable docs;
    clauseless call raises."""
    from kafka_workers_spark.operators.text import boolean_search, positional_index

    docs = spark.createDataFrame(
        [
            (1, "cat dog fish"),
            (2, "cat dog"),
            (3, "cat bird"),
            (4, "dog bird"),
            (5, "fish only here"),
        ],
        "doc_id long, text string",
    )
    idx = positional_index(docs)
    ids = lambda df: sorted(r.doc_id for r in df.collect())  # noqa: E731
    assert ids(boolean_search(idx, all_terms=["cat", "dog"])) == [1, 2]
    assert ids(boolean_search(idx, all_terms=["cat", "dog"], none_terms=["fish"])) == [2]
    assert ids(boolean_search(idx, any_terms=["bird", "fish"])) == [1, 3, 4, 5]
    assert ids(
        boolean_search(idx, all_terms=["cat"], any_terms=["bird", "fish"])
    ) == [1, 3]
    # duplicate terms in the clause don't inflate the required count
    assert ids(boolean_search(idx, all_terms=["cat", "cat", "dog"])) == [1, 2]
    with pytest.raises(ValueError, match="needs"):
        boolean_search(idx)


def test_posindex_parquet_roundtrip_then_merge_and_search(spark, tmp_path):
    """posindex_write/posindex_read round-trip (VERDICT r08 #3 — the
    persistence the positional_index docstring promises, the BM25 /
    IVF-PQ pattern): index half the corpus, persist it, reload in a
    fresh read path, merge a NEWER batch's index, and run phrase +
    proximity + boolean search — identical to the whole-pass index
    (the ingest-restart analog of the reference's stored offsets
    contract, impl/offsets/DefaultOffsetsState.java)."""
    from kafka_workers_spark.operators.text import (
        boolean_search,
        phrase_search,
        posindex_merge,
        posindex_read,
        posindex_write,
        positional_index,
        proximity_search,
    )

    docs = spark.createDataFrame(
        [
            (0, "big cat sat on the big cat mat"),
            (1, "the big cat and the small dog"),
            (2, "big dog small cat big cat"),
            (3, "nothing relevant here at all"),
            (4, "cat big cat big cat"),
            (5, "the mat sat still"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "posindex")
    posindex_write(positional_index(docs.filter("doc_id % 2 = 0")), path)
    stored, id_col = posindex_read(spark, path)
    assert id_col == "doc_id"
    merged = posindex_merge(stored, positional_index(docs.filter("doc_id % 2 = 1")))
    whole = positional_index(docs)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(phrase_search(merged, ["big", "cat"])) == rows(
        phrase_search(whole, ["big", "cat"])
    )
    assert rows(proximity_search(merged, "cat", "mat", window=4)) == rows(
        proximity_search(whole, "cat", "mat", window=4)
    )
    assert rows(boolean_search(merged, all_terms=["big", "cat"], none_terms=["dog"])) == rows(
        boolean_search(whole, all_terms=["big", "cat"], none_terms=["dog"])
    )
    # overlapping document sets must raise at search time, not
    # silently double phrase counts
    overlapping = posindex_merge(whole, positional_index(docs.filter("doc_id < 2")))
    with pytest.raises(Exception, match="share document ids"):
        phrase_search(overlapping, ["big", "cat"]).collect()
    # default mode refuses an existing path; overwrite re-ingests
    with pytest.raises(Exception):
        posindex_write(positional_index(docs), path)
    posindex_write(positional_index(docs), path, mode="overwrite")
    reread, _ = posindex_read(spark, path)
    assert rows(phrase_search(reread, ["big", "cat"])) == rows(
        phrase_search(whole, ["big", "cat"])
    )
    # layout-version guard (the bm25_read_index discipline)
    spark.createDataFrame([("doc_id", 999)], "id_col string, version int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="layout version"):
        posindex_read(spark, path)


def test_ngram_langid_discriminates_separable_scripts(spark):
    """Learning check on a genuinely separable corpus (the testdata
    langs are token-uniform, documented): two synthetic 'languages'
    with disjoint character inventories classify correctly; profile
    constant pinned to the query; guard raises."""
    from kafka_workers_spark.operators.text import (
        CT_PROFILE_SIZE,
        ngram_langid_score,
    )
    from kafka_workers_spark.queries.text import _CT_R

    assert _CT_R == CT_PROFILE_SIZE
    lang_a = "aba bab abba babba abab"      # a/b inventory
    lang_b = "xyz zyx xyzzy zxy yzx"        # x/y/z inventory
    ref = spark.createDataFrame(
        [(i, "A", lang_a) for i in range(5)] + [(i + 5, "B", lang_b) for i in range(5)],
        "doc_id long, lang string, text string",
    )
    test = spark.createDataFrame(
        [(100, "abba bab"), (101, "zyx xyz"), (102, "babab aba")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.predicted
        for r in ngram_langid_score(test, ref, profile_size=20).collect()
    }
    assert got == {100: "A", 101: "B", 102: "A"}
    import pytest as _pt

    with _pt.raises(ValueError, match="profile_size"):
        ngram_langid_score(test, ref, profile_size=0)


def test_chi2_terms_ranks_label_exclusive_terms_first(spark):
    """A term exclusive to one label carries that label's maximal χ²
    (perfect association); a term uniform across labels scores ~0 and
    never outranks it; degenerate all-docs terms are excluded."""
    from kafka_workers_spark.operators.text import chi2_terms

    rows = []
    for i in range(40):
        label = "a" if i % 2 == 0 else "b"
        text = "common filler words"  # in every doc -> excluded (tdf == N)
        text += " alpha" if label == "a" else " beta"
        if i % 4 == 0:
            text += " sometimes"  # uniform-ish across labels
        rows.append((i, label, text))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = chi2_terms(df, "lang", top_k=3, text_col="text")
    top = {r.label: r.term for r in out.filter("rank = 1").collect()}
    assert top == {"a": "alpha", "b": "beta"}
    terms = {r.term for r in out.collect()}
    assert "common" not in terms and "filler" not in terms  # tdf == N excluded
    import pytest as _pt

    with _pt.raises(ValueError, match="top_k"):
        chi2_terms(df, "lang", top_k=0)


def test_repetition_screen_known_answers(spark):
    """Gopher repetition screen (operators.text.repetition_screen) on
    hand-checkable docs: 'a b a b' has 2-grams [a b, b a, a b] → top
    count 2, duplicated-instance mass 2, dup_frac 2/3; a fully unique
    doc scores 0 mass; a one-token doc has zero grams and NULL fractions
    denominator-guarded; an empty-ish doc still emits a row."""
    import pytest

    from kafka_workers_spark.operators.text import repetition_screen

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),
            (2, "x y z w"),
            (3, "solo"),
            (4, "r r r r r"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_screen(docs, n=2).collect()}
    assert len(out) == 4
    r1 = out[1]
    assert (r1.n_tokens, r1.n_grams, r1.n_distinct_grams) == (4, 3, 2)
    assert (r1.top_gram_count, r1.dup_gram_tokens) == (2, 2)
    assert r1.top_gram_frac == 2 * 2 / 4
    assert r1.dup_gram_frac == 2 / 3
    r2 = out[2]
    assert (r2.top_gram_count, r2.dup_gram_tokens) == (1, 0)
    assert r2.dup_gram_frac == 0.0
    r3 = out[3]
    assert (r3.n_tokens, r3.n_grams, r3.top_gram_count) == (1, 0, 0)
    assert r3.top_gram_frac == 0.0 and r3.dup_gram_frac is None
    r4 = out[4]  # 'r r' ×4, all duplicated
    assert (r4.n_grams, r4.n_distinct_grams, r4.top_gram_count) == (4, 1, 4)
    assert r4.dup_gram_frac == 1.0
    with pytest.raises(ValueError, match="n "):
        repetition_screen(docs, n=0)


def test_repetition_screen_matches_python_counter_replay(spark):
    """Property sweep: on random small-vocabulary docs (repetition-heavy
    by construction), every emitted column must equal a literal Python
    Counter replay of the Gopher screen — including short docs, the
    n=3 variant, and single-token/empty-ish extremes."""
    import random
    from collections import Counter

    from kafka_workers_spark.operators.text import repetition_screen

    rng = random.Random(20260816)
    vocab = ["a", "b", "c", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    for n in (2, 3):
        expect = {}
        for i, text in docs:
            toks = text.split(" ")
            grams = [
                " ".join(toks[j: j + n]) for j in range(len(toks) - n + 1)
            ] if len(toks) >= n else []
            c = Counter(grams)
            n_grams = len(grams)
            top = max(c.values()) if c else 0
            dup = sum(v for v in c.values() if v > 1)
            expect[i] = (
                len(toks), n_grams, len(c), top, dup,
                top * n / len(toks) if toks else None,
                dup / n_grams if n_grams else None,
            )
        out = {
            r.doc_id: (r.n_tokens, r.n_grams, r.n_distinct_grams,
                       r.top_gram_count, r.dup_gram_tokens,
                       r.top_gram_frac, r.dup_gram_frac)
            for r in repetition_screen(
                spark.createDataFrame(docs, "doc_id long, text string"), n=n
            ).collect()
        }
        assert out == expect, f"n={n}"
