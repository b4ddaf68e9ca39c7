"""Plan-shape pins for the round-13 scaling dispositions (the measured
ledger is in `git show 208bba2:SCALE.md`).

A scan-layout probe closed the last ×3+
whole-engine growth cells as scan-layout artifacts, and the ledger's
standing story says the number that would actually indicate a defect in
those cells is a NEW SHUFFLE in their plans (or, for d1, a second one).
These tests make that story mechanical: the map-only cells must stay
exchange-free, and d1 must keep exactly its single fingerprint
exchange — a regression that adds an exchange fails here before it can
masquerade as "the documented layout artifact" in a ratio table.

Counted on the PHYSICAL plan string (executedPlan; initial AQE plan is
fine — exchange count is decided before runtime re-planning, and
counting the formatted AQE string would double-count reused scans, the
EXPLAIN_AUDIT caveat).
"""

from data_transform_make_spark import corpus


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count Exchange operators; ReusedExchange references an existing one
    return plan.count("Exchange") - plan.count("ReusedExchange")


def _shuffles(df) -> int:
    """Shuffle exchanges only — broadcast exchanges are excluded because
    they move only the (tiny) build side and AQE may add/remove them as
    runtime stats shift; the layout-disposition story is about SHUFFLES
    of the data-bearing side."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|RoundRobinPartitioning"
            r"|rangepartitioning)",
            plan,
        )
    )


def test_ta1_tc1_are_map_only(spark, sf_dir):
    """The projection-ending text ops carry no shuffle: their 10x-data
    cells are per-core-linear map work by design, and
    that claim is only safe while the plans stay exchange-free."""
    for name in ("ta1_text_stats", "tc1_line_cleaning"):
        df = corpus.queries()[name](spark, sf_dir)
        assert _exchanges(df) == 0, (
            f"{name} grew a shuffle — the 'layout artifact, linear "
            "per-core' story no longer applies; "
            "re-disposition the cell"
        )


def test_d1_has_exactly_the_fingerprint_exchange(spark, sf_dir):
    """d1 = keep_min_by on the md5 fingerprint: ONE exchange, keyed on
    the 128-bit digest, fed by a map-side-combined partial aggregate.
    The r13 A/B rejected adding a _spread exchange (2.7x at sf0.1,
    nothing at sf1.0); this pin also catches the reverse regression —
    an accidental second exchange sneaking in."""
    df = corpus.queries()["d1_exact_dedup"](spark, sf_dir)
    assert _exchanges(df) == 1, (
        "d1's plan no longer has exactly one exchange — the r13 "
        "disposition was measured against the single "
        "fingerprint-shuffle shape"
    )


def test_curation_pipeline_shuffle_counts_are_pinned(spark, sf_dir):
    """The ll1/ll2/ll3 layout dispositions (round 13: the ×3+ growth
    cells collapse to ×1.75–1.80 on a 32-split layout with ZERO code
    change) rest on the shipped plan shape: quality gate (map-only) →
    ONE fingerprint-dedup shuffle → let-bound shingle projection behind
    the internal _spread → inverted-index pairs → anti-join. The public
    query entries eager-cut their lineage (the stats frame starts from a
    checkpoint scan — 0 visible exchanges, useless to pin), so the pins
    target the LAZY stage frames the disposition was actually measured
    against (r14, per the r13 verdict directive 3). A changed count
    means the evidence no longer describes the shipped plan —
    re-disposition before trusting any ratio table."""
    from data_transform_make_spark.operators.dedup import ngram_jaccard_pairs
    from data_transform_make_spark.plans.training_corpus import (
        _quality_exact,
        build_training_corpus,
    )
    from data_transform_make_spark.sources.loader import load_table

    docs = load_table(spark, sf_dir, "documents")
    qe = _quality_exact(docs, 0.66)
    # one shuffle total: the md5-fingerprint min_by dedup; the quality
    # gate itself is map-only
    assert _shuffles(qe) == 1, "quality+exact-dedup stage grew a shuffle"

    # the candidate-pair stage (shared by ll1/ll2/ll3; ll3 only narrows
    # it with max_df, which adds no exchange): 8 shuffles — the internal
    # _spread, the shingle inverted-index agg (partial+final), the
    # id-only band self-join pair, the pair dedup, and the per-pair
    # Jaccard agg. Exactly ONE of them may be the _spread repartition.
    pairs = ngram_jaccard_pairs(
        qe, "doc_id", "text", shingle_n=3, threshold=0.2, materialize=False
    )
    assert _shuffles(pairs) == 8, "pair-generation stage shuffle count moved"

    # the whole greedy pipeline, lazy end-to-end (eager=False skips every
    # lineage cut): 12 shuffles at the shipped shape
    full = build_training_corpus(docs, eager=False)
    assert _shuffles(full) == 12, "ll1 end-to-end shuffle count moved"


def test_par1_keeps_the_single_shared_spread_shape(spark, sf_dir):
    """par1 shuffles (md5, id, pos) fingerprints only, behind ONE shared
    _spread exchange (the r12 rewrite, priced into the r12/r13 bench
    series): 4 shuffle exchanges total, of which exactly one is the
    round-robin/hash spread of the exploded-paragraph projection; the
    fifth exchange in the executed plan is the broadcast of the tiny
    keep-set and is deliberately NOT pinned (AQE may legitimately move
    it)."""
    df = corpus.queries()["par1_paragraph_dedup"](spark, sf_dir)
    assert _shuffles(df) == 4, "par1 shuffle count moved off the r12 shape"
