"""Unit tests for the round-5 text operators: repetition stats, PII
redaction, and tf/df keyword extraction."""

import pytest
from pyspark.sql import functions as F


class TestRepetition:
    def test_fully_repetitive_doc(self, spark):
        # "a a a a a" -> 2-grams: ["a a"] x4 -> top fraction 1.0
        from data_transform_make_spark.functions.text import shingles

        docs = spark.createDataFrame(
            [(1, "a a a a a"), (2, "w x y z q")], "doc_id long, text string"
        )
        sh = docs.select("doc_id", F.explode(shingles("text", 2)).alias("s"))
        counts = sh.groupBy("doc_id", "s").count()
        got = {
            r["doc_id"]: (r["mx"], r["tot"])
            for r in counts.groupBy("doc_id")
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .collect()
        }
        assert got[1] == (4, 4)  # one distinct 2-gram, 4 occurrences
        assert got[2] == (1, 4)  # all distinct


class TestPiiRedaction:
    def _one(self, spark, text):
        from data_transform_make_spark.functions.text import pii_counts, redact_pii

        df = spark.createDataFrame([(text,)], "t string")
        ne, np_ = pii_counts("t")
        row = df.select(
            ne.alias("e"), np_.alias("p"), redact_pii("t").alias("r")
        ).collect()[0]
        return row["e"], row["p"], row["r"]

    def test_email_and_phone(self, spark):
        e, p, r = self._one(
            spark, "write a.b+c@mail.example.org or dial 123-456-7890 now"
        )
        assert (e, p) == (1, 1)
        assert r == "write <EMAIL> or dial <PHONE> now"

    def test_multiple_occurrences_all_replaced(self, spark):
        e, p, r = self._one(spark, "x@y.io then z@w.co then 111-222-3333 111-222-3333")
        assert (e, p) == (2, 2)
        assert "<EMAIL>" in r and "@" not in r
        assert r.count("<PHONE>") == 2

    def test_clean_text_untouched(self, spark):
        e, p, r = self._one(spark, "no personal data here at all")
        assert (e, p, r) == (0, 0, "no personal data here at all")


class TestKeywordTopK:
    def test_rare_term_outranks_common(self, spark):
        from data_transform_make_spark.operators.keywords import tfidf_topk_terms

        # "zebra" appears only in doc 1 (df=1); "the" is in all docs (df=3).
        docs = spark.createDataFrame(
            [
                (1, "the zebra the zebra"),
                (2, "the cat sat"),
                (3, "the dog ran"),
            ],
            "doc_id long, text string",
        )
        out = tfidf_topk_terms(docs, "doc_id", "text", k=2)
        top1 = {
            r["doc_id"]: r["term"] for r in out.filter("rnk = 1").collect()
        }
        assert top1[1] == "zebra"  # tf=2/df=1 = 2.0 beats the's 2/3
        # per-doc output capped at k, ranking dense from 1
        rows = out.filter("doc_id = 1").orderBy("rnk").collect()
        assert [r["rnk"] for r in rows] == [1, 2]

    def test_tie_breaks_by_term_ascending(self, spark):
        from data_transform_make_spark.operators.keywords import tfidf_topk_terms

        docs = spark.createDataFrame(
            [(1, "bb aa"), (2, "cc dd")], "doc_id long, text string"
        )
        # every term: tf=1, df=1 -> identical score; order must be lexical
        rows = tfidf_topk_terms(docs, "doc_id", "text", k=2).collect()
        got = {(r["doc_id"], r["rnk"]): r["term"] for r in rows}
        assert got[(1, 1)] == "aa" and got[(1, 2)] == "bb"
        assert got[(2, 1)] == "cc" and got[(2, 2)] == "dd"


class TestTokenShingleProperties:
    """Property tests: the Column-expression tokenizer/shingler against a
    straightforward Python reference (the §5 strategy: semantics pinned by
    an independent reimplementation, not by the code under test)."""

    @staticmethod
    def _py_tokens(text):
        # r14 convention: NULL -> [] (matching every SQL twin's CASE
        # arm) and empty fragments filtered after the split, so
        # tab/newline-edged text carries no phantom '' tokens
        # (tests/test_blindspot_sweep.py; tokens() docstring)
        if text is None:
            return []
        import re

        return [w for w in re.split(r"\s+", text.lower()) if w]

    @staticmethod
    def _py_shingles(text, n=3):
        toks = TestTokenShingleProperties._py_tokens(text)
        if not toks:  # None and [] both shingle to []
            return []
        if len(toks) < n:
            return [" ".join(toks)]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    def test_against_python_reference(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from data_transform_make_spark.functions.text import shingles, tokens

        # ascii words + whitespace runs; avoids the Unicode-whitespace
        # classes where Python's str.strip and Java's trim diverge (that
        # JS-compat surface has its own dedicated tests)
        word = st.text(
            alphabet="abcXYZ019.,!", min_size=1, max_size=6
        )
        texts = st.lists(word, max_size=8).map(" ".join) | st.just(None) | st.just("   ")

        @settings(max_examples=25, deadline=None)
        @given(st.lists(texts, min_size=1, max_size=10))
        def check(batch):
            df = spark.createDataFrame(
                [(i, t) for i, t in enumerate(batch)], "i long, t string"
            )
            rows = df.select(
                "i",
                tokens("t").alias("tok"),
                shingles("t", 3).alias("sh"),
            ).collect()
            for r in rows:
                t = batch[r["i"]]
                assert r["tok"] == self._py_tokens(t), repr(t)
                assert r["sh"] == self._py_shingles(t), repr(t)

        check()


def test_clean_lines_rules_and_first_occurrence_order(spark):
    """Line cleaning: short/blank lines dropped, repeated lines keep the
    FIRST occurrence in reading order, single-line docs pass through."""
    from pyspark.sql import functions as F

    from data_transform_make_spark.functions.text import clean_lines

    docs = spark.createDataFrame(
        [
            (1, "keep this line\nok\n\nkeep this line\nanother good line"),
            (2, "ok\nno\n  "),                    # nothing survives
            (3, "one single good line"),          # passthrough
            (4, "b b b\na a a\nb b b\na a a"),    # order: first b, first a
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.clean
        for r in docs.select(
            "doc_id", F.array_join(clean_lines("text"), "|").alias("clean")
        ).collect()
    }
    assert out[1] == "keep this line|another good line"
    assert out[2] == ""
    assert out[3] == "one single good line"
    assert out[4] == "b b b|a a a"


def test_duplicated_span_report_counts(spark):
    """Global stride-1 window ranking: a verbatim copy's spans are all
    duplicated, the first occurrence is free, short docs are excluded,
    distinct docs report zero."""
    from data_transform_make_spark.operators.dedup import duplicated_span_report

    base = "x y z w a b c d e f"  # 10 tokens -> 3 spans at window=8
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "p q r s t u v w1 w2 w3"), (4, "too short")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac)
        for r in duplicated_span_report(docs, "doc_id", "text", window=8).collect()
    }
    assert out[1] == (3, 0, 0.0)    # first occurrence wins
    assert out[2] == (3, 3, 1.0)    # verbatim copy: every span duplicated
    assert out[3] == (3, 0, 0.0)    # distinct content
    assert 4 not in out             # < window tokens: no spans, excluded


def test_clean_lines_matches_python_reference_property(spark):
    """Hypothesis: clean_lines == a direct Python reference (filter
    short/blank, first-occurrence dedup) on arbitrary small line soups."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from data_transform_make_spark.functions.text import clean_lines

    words = st.sampled_from(["aa", "bb", "cc", "dd"])
    line = st.lists(words, min_size=0, max_size=5).map(" ".join)
    doc = st.lists(line, min_size=0, max_size=8).map("\n".join)

    def ref(text, min_words=3):
        out, seen = [], set()
        for l in text.split("\n"):
            t = l.strip()
            if not t or len(t.split()) < min_words:
                continue
            if l not in seen:
                seen.add(l)
                out.append(l)
        return out

    @settings(max_examples=30, deadline=None)
    @given(doc)
    def check(text):
        df = spark.createDataFrame([(text,)], "text string")
        got = df.select(clean_lines("text").alias("c")).head()[0]
        assert got == ref(text)

    check()


def test_unigram_rarity_score_reference(spark):
    """Corpus-typical docs outscore rare-token docs; the score equals the
    hand-computed mean token corpus frequency."""
    from data_transform_make_spark.operators.keywords import unigram_rarity_score

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "zzz qqq"), (4, "  ")],
        "doc_id long, text string",
    )
    # vocab: a->3, b->2, zzz->1, qqq->1; total=7
    out = {
        r.doc_id: (r.n_tokens, r.sum_cnt, r.score)
        for r in unigram_rarity_score(docs, "doc_id", "text").collect()
    }
    assert out[1] == (3, 8, 8 / (3 * 7))
    assert out[2] == (2, 5, 5 / (2 * 7))
    assert out[3] == (2, 2, 2 / (2 * 7))
    assert 4 not in out  # blank doc: no tokens, excluded
    assert out[1][2] > out[3][2]  # typical text beats rare-token soup


def test_paragraph_dedup_cross_doc_first_wins(spark):
    """Cross-doc paragraph dedup: a paragraph repeated across documents
    survives only at its (doc_id, pos)-first occurrence; reassembly keeps
    original reading order; blank paragraphs are dropped; a doc whose
    every paragraph was seen earlier disappears."""
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (10, f"intro ten\n\n{boiler}\n\nbody ten"),
            # doc 20: boiler is a dup (first seen in doc 10, pos 1);
            # also repeats its OWN paragraph ("body twenty")
            (20, f"{boiler}\n\nbody twenty\n\n\n\nbody twenty"),
            # doc 30: nothing but already-seen paragraphs -> vanishes
            (30, f"{boiler}\n\nbody ten"),
            (40, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text, r.n_paras)
        for r in paragraph_dedup(docs, "doc_id", "text").collect()
    }
    assert out[10] == (f"intro ten\n\n{boiler}\n\nbody ten", 3)
    assert out[20] == ("body twenty", 1)
    assert 30 not in out
    assert 40 not in out  # NULL text -> no paragraphs


def test_paragraph_dedup_within_doc_keeps_earliest_position(spark):
    """Within one document the earliest position wins, so reassembly
    preserves the first occurrence's place in the text."""
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha one\n\nbeta two\n\nalpha one\n\ngamma three")],
        "doc_id long, text string",
    )
    (row,) = paragraph_dedup(docs, "doc_id", "text").collect()
    assert row.text == "alpha one\n\nbeta two\n\ngamma three"
    assert row.n_paras == 3


def test_paragraph_dedup_matches_python_reference_property(spark):
    """Hypothesis: paragraph_dedup == a direct Python reference (global
    first-(id, pos) winner per distinct paragraph, reassembly in position
    order) on arbitrary small corpora."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_transform_make_spark.operators.dedup import paragraph_dedup

    para = st.sampled_from(["aa bb", "cc", "dd ee ff", "", "  "])
    doc = st.lists(para, min_size=0, max_size=5).map("\n\n".join)
    corpus = st.lists(doc, min_size=1, max_size=5)

    def ref(texts):
        seen = set()
        out = {}
        for i, text in enumerate(texts):
            kept = []
            for p in text.split("\n\n"):
                if not p.strip():
                    continue
                if p not in seen:
                    seen.add(p)
                    kept.append(p)
            if kept:
                out[i] = ("\n\n".join(kept), len(kept))
        return out

    @settings(max_examples=20, deadline=None)
    @given(corpus)
    def check(texts):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.text, r.n_paras)
            for r in paragraph_dedup(df, "doc_id", "text").collect()
        }
        assert got == ref(texts)

    check()


def test_paragraph_dedup_null_id_rows_are_dropped(spark):
    """NULL ids identify nothing: the row is dropped (round-12 contract —
    the id-keyed reassembly join cannot carry it), and its paragraphs do
    NOT claim first-occurrence for later documents."""
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(None, "aa\n\nbb"), (7, "aa\n\ncc")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.text, r.n_paras)
        for r in paragraph_dedup(docs, "doc_id", "text").collect()
    }
    assert out == {7: ("aa\n\ncc", 2)}


def test_paragraph_dedup_reassembly_split_stays_let_bound(spark):
    """Round-12 plan pin (the let convention, functions/expr.py): the
    reassembly re-split must stay bound — transform(array(split(…)))[0]
    in the optimized plan. If a future Catalyst rewrite inlines it, the
    split re-runs once per SURVIVING PARAGRAPH instead of once per
    document. Also pins the round's shuffle-payload contract: the min_by
    winner struct carries (id, pos, fingerprint) only — no paragraph
    text field — so no paragraph-granularity exchange moves text."""
    from data_transform_make_spark.functions.expr import optimized_plan
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "aa\n\nbb"), (2, "aa\n\ncc")], "doc_id long, text string"
    )
    plan = optimized_plan(paragraph_dedup(df, "doc_id", "text"))
    assert plan.count("array(split(") == 1, (
        "the reassembly let binding was optimized away — paragraph_dedup "
        "re-splits per surviving paragraph on this Spark version"
    )
    # exactly two splits total: the fingerprint branch + the bound re-split
    assert plan.count("split(") == 2
    # the min_by struct is fingerprint-only — paragraph text must not
    # appear among the aggregated fields
    (minby_line,) = [l for l in plan.splitlines() if "min_by" in l]
    assert "para" not in minby_line, minby_line


def test_paragraph_dedup_shares_one_text_exchange(spark):
    """Round-12 plan pin: the fingerprint branch and the reassembly
    branch read the SAME _spread exchange, and exchange reuse
    materializes it once — one source pass, document text over the wire
    exactly once. If reuse stops firing (a Spark upgrade, a branch
    drifting to a non-identical subtree), the op silently pays a second
    text exchange — still correct, so only a plan assert catches it.
    Executed (AQE-final) plan, per the EXPLAIN-audit convention."""
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(i, f"p{i % 3}\n\nq{i}") for i in range(20)],
        "doc_id long, text string",
    )
    out = paragraph_dedup(df, "doc_id", "text")
    out.collect()
    from data_transform_make_spark.functions.expr import executed_plan

    plan = executed_plan(out)
    assert "ReusedExchange" in plan, (
        "the shared _spread exchange is no longer reused — "
        "paragraph_dedup shuffles document text twice on this Spark "
        "version (operators/dedup.py)"
    )


def test_paragraph_dedup_regex_metacharacter_separator(spark):
    """sep is a literal on both the split and the join side."""
    from data_transform_make_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "aa|bb|aa|cc"), (2, "bb|dd")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.text, r.n_paras)
        for r in paragraph_dedup(docs, "doc_id", "text", sep="|").collect()
    }
    assert out == {1: ("aa|bb|cc", 3), 2: ("dd", 1)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        paragraph_dedup(docs, "doc_id", "text", sep="a\\Eb")
    # r12 boundary review: empty sep would silently become corpus-global
    # CHARACTER dedup (split("") explodes every char); same-name id/text
    # columns would build a duplicate-column projection
    with _pytest.raises(ValueError):
        paragraph_dedup(docs, "doc_id", "text", sep="")
    with _pytest.raises(ValueError):
        paragraph_dedup(docs, "text", "text")


class TestCompressionRatio:
    def test_exact_python_zlib_reference(self, spark):
        """Every ratio equals the direct python-zlib computation — the
        certification that replaces a SQL twin (the oracle engine has no
        zlib)."""
        import zlib

        from data_transform_make_spark.functions.text import compression_ratio

        rows = [
            (1, "word " * 200),                      # highly repetitive
            (2, "The quick brown fox jumps over the lazy dog. " * 5),
            (3, "kq9#xZ!m2@Lp8&vR4^sT6*wN0$jB"),     # noise-like
            (4, None),
            (5, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r.ratio
            for r in docs.select(
                "doc_id", compression_ratio("text").alias("ratio")
            ).collect()
        }

        def ref(t):
            if not t:
                return None
            b = t.encode("utf-8")
            return len(zlib.compress(b, 6)) / len(b)

        for doc_id, text in rows:
            assert got[doc_id] == ref(text), doc_id

    def test_cr1_plan_evaluates_udf_once(self, spark, sf_dir):
        """cr1's banding CASE references the ratio 5 times; the ratio is
        projected once into a named column so the plan carries exactly
        ONE ArrowEvalPython evaluation of the pandas_udf — the 4-branch
        CASE over the raw UDF expression could zlib every document up to
        4x if subtree dedup declined to collapse it (advice, round 6)."""
        from data_transform_make_spark.corpus import cr1_compression_ratio

        plan = (
            cr1_compression_ratio(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("ArrowEvalPython") == 1, plan
        # the pandas_udf prints as its inner function name `_ratio`
        assert plan.count("_ratio(") == 1, plan

    def test_signal_ordering(self, spark):
        """Repetitive text compresses below prose, prose below noise —
        the ordering a threshold gate consumes, at every level."""
        import random

        from data_transform_make_spark.functions.text import compression_ratio

        rng = random.Random(7)
        noise = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789#@!")
                    for _ in range(8))
            for _ in range(60)
        )
        docs = spark.createDataFrame(
            [
                (1, "subscribe now " * 100),
                (2, "The sea rose slowly under a copper sky while the "
                    "harbor bells counted out the hours for tired sailors. "
                    * 4),
                (3, noise),
            ],
            "doc_id long, text string",
        )
        for level in (1, 6):
            got = {
                r.doc_id: r.ratio
                for r in docs.select(
                    "doc_id",
                    compression_ratio("text", level=level).alias("ratio"),
                ).collect()
            }
            assert got[1] < got[2] < got[3], f"level={level}"
