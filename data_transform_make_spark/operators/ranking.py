"""Query-relevance ranking over a document corpus: BM25 scoring with a
rational (log-free) idf.

The retrieval side of a training-data pipeline — "find the documents most
relevant to these probe terms" — is the same need as the reference's
point-GET lookup (server.js routes a key to a record) lifted from exact
keys to ranked full-text relevance.

Scoring: Okapi BM25 with the idf's log removed —
``idf_t = (N - df_t + 0.5) / (df_t + 0.5)`` (the raw Robertson/Sparck
Jones odds; the published form wraps it in ``ln``). Rationale: ``ln`` is
last-ulp engine-dependent (the lm1 lesson) while +,*,/ on doubles are
IEEE-exact and bit-identical across engines when evaluated in the same
expression-tree order — and dropping a per-term monotone transform keeps
the score a deterministic, oracle-checkable document statistic. Callers
who want the classical damping apply ``ln`` at the boundary.

Execution shape (the 100 TB design point):

  * Query terms are LITERALS, so per-document ``tf_t`` is
    ``size(filter(tokens, x = t))`` — a pure Column expression: the tf /
    dl projection is MAP-ONLY, no explode, no (doc, term) shuffle at all.
  * Corpus stats (N, Σdl, per-term df) are ONE single-row aggregate over
    that narrow projection, broadcast back with a crossJoin — no second
    wide shuffle. The projection is MATERIALIZED once (eager
    ``localCheckpoint``) and read twice — under the stats agg and under
    the score map — so the text is tokenized and the per-term HOF counts
    run ONCE (round 9: the r8 scaling table's 6.2× outlier profiled to
    exactly this doubled pass — the fold measured 5.55 s → 2.94 s at
    sf1.0, ratio 6.2× → ~3.5×, results bit-identical). The cut is
    reliable or executor-local by the session's policy
    (operators/checkpointing.py) — ~40 bytes/doc either way.
  * The per-document score is a FIXED expression tree (terms folded
    left-to-right in ``query_terms`` order), not a shuffled SUM — float
    addition order is pinned, so the score is reproducible under any
    partitioning and matches the SQL twin bit-for-bit.
  * Top-k lands in ``TakeOrderedAndProject`` (per-partition heaps, no
    global sort) with ``(score DESC, id)`` — a total order, deterministic
    through score ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cols import claim_scratch
from ..functions.text import tokens
from .checkpointing import eager_cut
from .dedup import _spread


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> DataFrame:
    """Top-``k`` documents by rational-idf BM25 against ``query_terms``.

    ``materialize=True`` (default) eagerly checkpoints the narrow
    (id, dl, tf...) projection so its scan + tokenize + per-term
    HOF counts run once, not once per consumer (the stats agg and the
    score map both read it). ``False`` keeps the fully-lazy two-pass
    plan — for callers composing bm25 into a larger lazy pipeline or
    running where executor storage for the checkpoint is unavailable.

    The cut follows the session's policy
    (:func:`..checkpointing.eager_cut`): reliable ``DataFrame.checkpoint``
    when the session has a checkpoint dir (set ``spark.checkpoint.dir``
    on a cluster), surviving executor loss at the cost of one distributed
    write; otherwise ``localCheckpoint``, whose blocks live on executors,
    so a lost executor kills the job. ``materialize=False`` keeps
    recompute-on-loss lineage instead.

    Output: ``(id, dl, tf_<term>..., score)`` ordered by
    ``(score DESC, id)``. ``dl`` is the whitespace-token document length;
    blank and NULL documents are treated as EMPTY (dl = 0, every tf = 0,
    score exactly 0.0 — the length normalization stays finite because
    ``1 - b > 0``) and they count toward N and the average length like
    any other empty document — never NULL scores, never an inflated idf
    from rows excluded on one side of the stats only.
    """
    if k < 1:
        # the nprobe/radius class (round 9): top-0 is a silently-empty
        # result, not a cheaper query — refused across all top-k ops
        raise ValueError(f"bm25_topk: k must be >= 1, got {k!r}")
    if not query_terms:
        raise ValueError("bm25_topk: need at least one query term")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("bm25_topk: query terms must be distinct")
    # __tfs is withColumn-stamped on the CALLER frame (the one scratch
    # site here; every other __ column is born inside engine-owned
    # select/agg projections). Currently harmless — the narrow select
    # reads the operator's own value and never passes __tfs through —
    # but guarded for uniformity with the other ten public scratch
    # sites so a widened projection can't reintroduce the class
    # (advice, round 13).
    claim_scratch(df, "bm25_topk", "__tfs")
    # tokens(NULL) is [] since r14 (functions/text.py — the NULL/empty
    # contract moved INTO the tokenizer), so NULL text takes the same
    # empty-doc path as blank text: dl = 0, every tf = 0, score 0.0
    tk = tokens(F.col(text_col))

    # ONE fused interpreted traversal counts every term (round 12): the
    # pre-r12 shape ran size(filter(tk, =t)) once PER TERM — T array
    # walks plus T filtered-array allocations per document. A single
    # aggregate fold with a T-counter struct accumulator reads the
    # token array once; same-session interleaved A/B with a hash-sum
    # over every output column (count() prunes projections — never time
    # one with count(); caught in-round) read -20%/-24% at sf0.1/sf1.0
    # with the allocation-free per-term fold flat vs shipped, so the
    # win is the single traversal.
    # It grows with term count: T traversals collapse to 1.
    # Internal columns are keyed by term INDEX, never by the term text:
    # F.col(f"tf_{term}") would parse a dotted term ('node.js') as a
    # nested-field access and blow up at analysis; the caller-facing
    # tf_<term> names appear only as output aliases, which are literal.
    tf_init = F.struct(
        *[F.lit(0).cast("long").alias(f"t{i}") for i in range(len(query_terms))]
    )

    def _tf_merge(acc, x):
        return F.struct(
            *[
                (
                    acc[f"t{i}"]
                    + F.when(x == F.lit(t), F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long")
                ).alias(f"t{i}")
                for i, t in enumerate(query_terms)
            ]
        )

    # _spread first (round 12): the tf traversal is the expensive
    # per-doc map, and bm25 predated the engine-wide convention
    # (operators/dedup.py:20) of hash-repartitioning before such maps —
    # a single-row-group corpus file otherwise pins the whole tf stage
    # to ONE task (measured end-to-end at sf1.0, rows asserted
    # identical: 3.44 -> 0.97 s; 10x-data growth ratio 5.2 -> 1.6). On
    # a cluster the same spread balances text-length skew across
    # executors; the price is one id-keyed text exchange before the
    # text is dropped to the narrow (id, dl, tf...) projection. The
    # fused fold is HOISTED into its own column so it runs once, not
    # once per extracted counter — the IVF vv pattern; CollapseProject
    # declines to inline a non-cheap alias referenced T times, pinned by
    # tests/test_ranking.py::test_bm25_fused_tf_fold_stays_hoisted.
    base = (
        _spread(df, id_col)
        .withColumn("__tfs", F.aggregate(tk, tf_init, _tf_merge))
        .select(
            F.col(id_col),
            F.size(tk).cast("long").alias("dl"),
            *[
                F.col("__tfs")[f"t{i}"].alias(f"__tf_{i}")
                for i in range(len(query_terms))
            ],
        )
    )
    if materialize:
        # one tokenize+tf pass total, not one per consumer (profiled:
        # the doubled pass WAS the r8 6.2× scaling outlier)
        base = eager_cut(base)

    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("dl").alias("__sumdl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col(f"__tf_{i}") > 0, F.lit(1))), F.lit(0)
            ).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )

    j = base.crossJoin(F.broadcast(stats))

    # constants resolved to Python doubles ONCE and injected as literals,
    # so both engines parse the identical decimal (k1 + 1 is not
    # necessarily the double nearest "2.2" — never re-derive it SQL-side)
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    # avgdl = 0 (an ALL-empty corpus) would make ratio 0.0/0.0 = NaN and
    # poison every score (review, round 8) — in that corpus every dl is 0,
    # so the length-normalization ratio is defined to 0 and the documented
    # "empty docs score exactly 0.0" contract holds corpus-wide
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    ratio = F.when(F.col("__sumdl") == 0, F.lit(0.0)).otherwise(
        F.col("dl").cast("double") / avgdl
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        idf = (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5)) / (
            F.col(f"__df_{i}") + F.lit(0.5)
        )
        s = idf * (
            (tf * F.lit(k1p1))
            / (tf + F.lit(k1) * (F.lit(one_minus_b) + F.lit(b) * ratio))
        )
        score = s if score is None else score + s

    return (
        j.select(
            id_col,
            "dl",
            *[
                F.col(f"__tf_{i}").alias(f"tf_{t}")
                for i, t in enumerate(query_terms)
            ],
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
