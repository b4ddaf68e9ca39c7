"""BM25 ranking (operators/ranking.py): hand-computed reference scores,
length normalization direction, multi-term additivity."""

import pytest

from data_transform_make_spark.operators.ranking import bm25_topk


def test_bm25_hand_computed_single_term(spark):
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog"), (3, "cat")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()
    # N=3, sumdl=6, avgdl=2, df=2 -> idf = 1.5/2.5 = 0.6
    # d1: tf=2 dl=3 -> 0.6 * 4.4 / (2 + 1.2*(0.25 + 0.75*1.5))
    # d3: tf=1 dl=1 -> 0.6 * 2.2 / (1 + 1.2*(0.25 + 0.75*0.5))
    s1 = 0.6 * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * (3 / 2)))
    s3 = 0.6 * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * (1 / 2)))
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].score == pytest.approx(s1, abs=1e-12)
    assert by_id[3].score == pytest.approx(s3, abs=1e-12)
    assert by_id[2].score == 0.0
    # shorter doc with the same raw tf-rate ranks higher (length norm)
    assert [r.doc_id for r in out] == [3, 1, 2]
    assert (by_id[1].dl, by_id[1].tf_cat) == (3, 2)


def test_bm25_multi_term_additive(spark):
    docs = spark.createDataFrame(
        [(1, "cat dog"), (2, "cat cat"), (3, "fish")],
        "doc_id long, text string",
    )
    one = {
        r.doc_id: r.score
        for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()
    }
    two = {
        r.doc_id: r.score
        for r in bm25_topk(
            docs, "doc_id", "text", ["cat", "dog"], k=10
        ).collect()
    }
    # doc 1 gains the dog term's contribution; doc 2's score is unchanged
    # (tf_dog = 0 adds exactly 0.0)
    assert two[2] == one[2]
    assert two[1] > one[1]


def test_bm25_k_limits_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(i, "same text") for i in range(5)], "doc_id long, text string"
    )
    out = bm25_topk(docs, "doc_id", "text", ["same"], k=3).collect()
    # identical scores everywhere: the (score DESC, id) total order keeps
    # the smallest ids
    assert [r.doc_id for r in out] == [0, 1, 2]


def test_bm25_rejects_empty_terms(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_topk(docs, "doc_id", "text", [])


def test_bm25_null_and_blank_docs_score_zero_and_count_in_stats(spark):
    """NULL/blank text = empty document: score exactly 0.0 (never NULL),
    included in N and avgdl like any empty doc."""
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog"), (3, "cat"), (4, None), (5, " ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[4].score == 0.0 and out[5].score == 0.0
    assert out[4].dl == 0 and out[4].tf_cat == 0
    # N=5, sumdl=6 -> avgdl=1.2; df=2 -> idf=(5-2+0.5)/(2+0.5)=1.4
    s3 = 1.4 * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * (1 / 1.2)))
    assert out[3].score == pytest.approx(s3, abs=1e-12)


def test_bm25_all_empty_corpus_scores_zero_not_nan(spark):
    """An ALL-empty corpus has avgdl = 0; the length-normalization ratio
    would be 0.0/0.0 = NaN and poison every score (review, round 8) —
    instead every document scores exactly 0.0."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()}
    assert set(out) == {1, 2, 3}
    assert all(out[i].score == 0.0 for i in out)


def test_bm25_dotted_terms_and_duplicate_rejection(spark):
    """Terms containing dots are plain tokens, not nested-field paths
    (internal columns are index-keyed); duplicate terms are rejected."""
    docs = spark.createDataFrame(
        [(1, "node.js rocks"), (2, "plain prose here")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["node.js"], k=10)
    assert "tf_node.js" in out.columns
    by_id = {r.doc_id: r for r in out.collect()}
    assert by_id[1]["tf_node.js"] == 1 and by_id[2]["tf_node.js"] == 0
    assert by_id[1].score > 0 and by_id[2].score == 0.0

    with pytest.raises(ValueError):
        bm25_topk(docs, "doc_id", "text", ["cat", "cat"])


def test_bm25_bit_exact_python_reference(spark):
    """The score expression tree is fixed-fold, so a Python double
    computation in the SAME operation order must match BIT-EXACTLY —
    the determinism the SQL twin relies on, certified independently."""
    docs_rows = [
        (1, "cat dog cat fish"),
        (2, "dog dog dog"),
        (3, "cat"),
        (4, "fish fish cat dog"),
        (5, ""),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    terms = ["cat", "fish"]
    got = {
        r.doc_id: r.score
        for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()
    }

    toks = {i: t.lower().split() for i, t in docs_rows}
    dl = {i: float(len(tk)) for i, tk in toks.items()}
    n = float(len(docs_rows))
    sumdl = sum(dl.values())
    k1, b = 1.2, 0.75
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    for i, tk in toks.items():
        score = None
        for term in terms:
            tf = float(tk.count(term))
            df = float(sum(1 for t2 in toks.values() if term in t2))
            idf = (n - df + 0.5) / (df + 0.5)
            ratio = dl[i] / (sumdl / n)
            s = idf * ((tf * k1p1) / (tf + k1 * (one_minus_b + b * ratio)))
            score = s if score is None else score + s
        assert got[i] == score, i  # EXACT equality, no approx


def test_bm25_materialize_modes_agree(spark):
    """The eager localCheckpoint fold (round 9 — removing the doubled
    tokenize+tf pass, the r8 6.2x scaling outlier) must be a pure
    execution-strategy choice: bit-identical rows either way."""
    docs = spark.createDataFrame(
        [
            (1, "spark table scan merge table"),
            (2, "table table"),
            (3, "merge scan"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    args = (docs, "doc_id", "text", ["table", "scan", "merge"])
    a = [tuple(r) for r in bm25_topk(*args, materialize=True).collect()]
    b = [tuple(r) for r in bm25_topk(*args, materialize=False).collect()]
    assert a == b and len(a) == 5


def test_bm25_fused_tf_fold_stays_hoisted(spark):
    """Round-12 plan pin (the IVF vv pattern, functions/expr.py
    convention): the fused T-counter tf fold is hoisted into one column
    and extracted T times — CollapseProject must NOT inline the alias,
    or the single traversal silently becomes T traversals again. In the
    fully-lazy plan the base projection appears once per consumer
    (stats branch + score branch — the documented materialize=False
    recompute), so the pin is exactly ONE fold per consumer: 2 total
    for T=3 terms; an inlined alias would read 2*T = 6."""
    from data_transform_make_spark.functions.expr import optimized_plan

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog")], "doc_id long, text string"
    )
    plan = optimized_plan(
        bm25_topk(docs, "doc_id", "text", ["cat", "dog", "fox"], k=5,
                  materialize=False)
    )
    n_folds = plan.count("aggregate(")
    assert n_folds == 2, (
        f"expected 2 hoisted tf folds (one per base consumer), got "
        f"{n_folds} — CollapseProject inlined the __tfs alias; bm25 "
        "re-walks the token array per term again on this Spark version "
        "(operators/ranking.py)"
    )
