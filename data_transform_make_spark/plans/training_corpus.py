"""End-to-end LLM training-corpus pipeline (SURVEY.md §2.10 composed):

    documents
      -> quality gate          (ta3 score, native expressions)
      -> exact dedup           (ta4 fingerprint, first-id-wins)
      -> near-dup removal      (d2 exact n-gram Jaccard pairs, drop id_b)
      -> deterministic split   (sp1 multiplicative hash)
      -> corpus stats          (docs + tokens per split x lang)

Every stage is an already-tested operator; this plan is their composition —
the shape a real data-curation job has. Scale profile: two map-only stages
(quality, split), one shuffle on the fingerprint (exact dedup), the d2
inverted-index pass (SCALE.md §Dedup), one broadcast-able anti-join (the
near-dup drop set is pairs, i.e. tiny relative to the corpus), and one
final small agg. Nothing quadratic, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cols import claim_scratch
from ..functions.text import doc_fingerprint, quality_score, shingles, token_count
from ..operators.checkpointing import eager_cut
from ..operators.dedup import (
    _spread,
    keep_min_by,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_from_projection,
)

SPLIT_MOD = 4294967296  # 2^32
SPLIT_MULT = 2654435761  # Knuth multiplicative hash constant
# 80% cut as an exact integer LITERAL, reused verbatim by the SQL oracles.
# Never derive it with float arithmetic at a call site: Python
# int(0.8 * 2**32) truncates to ...836 while SQL CAST(0.8 * 4294967296 AS
# BIGINT) rounds to ...837 — an off-by-one that silently flips the split of
# any id landing exactly on the boundary.
SPLIT_TRAIN_CUT = 3435973837


def mulhash32(id_col, mult: int):
    """``(id * mult) mod 2^32`` WITHOUT 64-bit overflow, for id >= 0.

    The naive product overflows a signed long for id >= ~4.1e9 — Spark
    wraps silently (negative hash, row always dropped) while DuckDB raises
    on BIGINT overflow: a cross-engine divergence exactly at the
    multi-billion-doc design point. Split the (masked) id 16/16 and
    combine partial products mod 2^32; every intermediate stays < 2^48.
    For id < 2^32 the value is bit-identical to the naive form, so
    existing split/mix decisions are unchanged. The SQL oracles mirror
    the same decomposition (corpus._duck_mulhash32)."""
    d = F.pmod(F.col(id_col).cast("long"), F.lit(SPLIT_MOD))
    hi = F.shiftright(d, 16) * mult % 65536
    lo = d.bitwiseAND(F.lit(65535)) * mult
    return (hi * 65536 + lo) % SPLIT_MOD


def _check_hash_cut(value, param: str, fn: str) -> None:
    """Refuse non-integer / out-of-range hash thresholds (review, r11).

    Every threshold compared against :func:`mulhash32` is an EXACT
    integer out of 2^32. The natural mistake is passing a FRACTION
    (``train_cut=0.8`` for "80% train"): the hash is an integer >= 0, so
    ``hash < 0.8`` holds only for hash == 0 — ~1 in 4.3 billion rows
    lands on the keep side, a plausible-looking but silently near-empty
    split/mix. Floats are therefore refused outright (even integral
    ones — an integral float is still evidence the caller thinks in
    fractions), as are ints outside [0, 2^32] that silently pin every
    row to one side."""
    if isinstance(value, bool) or not isinstance(value, int):
        raise ValueError(
            f"{fn}: {param} must be an exact integer threshold out of "
            f"2^32 (e.g. SPLIT_MOD // 2 for ~half), got {value!r} — a "
            "fraction here silently keeps ~nothing (the hash is an "
            "integer, so hash < 0.8 means hash == 0)"
        )
    if not (0 <= value <= SPLIT_MOD):
        raise ValueError(
            f"{fn}: {param} must be in [0, 2^32], got {value!r} — values "
            "outside pin every row to one side silently"
        )


def hash_split(id_col, train_cut: int = SPLIT_TRAIN_CUT):
    """Deterministic train/eval assignment by multiplicative hash (sp1).

    ``train_cut`` is an exact integer out of 2^32, never a fraction —
    see :func:`_check_hash_cut` (review, round 11)."""
    _check_hash_cut(train_cut, "train_cut", "hash_split")
    return F.when(
        mulhash32(id_col, SPLIT_MULT) < train_cut,
        "train",
    ).otherwise("eval")


def release_decontamination_cache() -> None:
    """No-op, kept for one caller: the benchmark harness
    (``perfbench/run.py``) calls it before each timed run. The engine holds
    no result cache; :func:`decontamination_report` releases its persist
    before it returns. Delete this function when that harness call goes."""


def decontamination_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    train_cut: int = SPLIT_TRAIN_CUT,
    eager: bool = True,
) -> DataFrame:
    """Eval-set contamination check: train-split documents that share at
    least one distinct word n-gram with any eval-split document.

    The standard published recipe (n-gram overlap against held-out sets,
    as described in the GPT-3/PaLM appendices) re-expressed set-oriented:
    both splits' shingle sets are exploded once, the eval side is reduced
    to its distinct shingle vocabulary, and one equi-join keyed on the
    shingle counts, per train doc, how many of its distinct shingles occur
    anywhere in eval. ``contamination`` is that count over the doc's
    distinct-shingle total.

    Scale shape: the split is a map-only hash expression (same
    multiplicative hash as :func:`hash_split`, bit-identical across
    engines); the eval vocabulary is small by construction (eval sets are
    a fixed few-thousand-doc benchmark suite at any corpus scale), so AQE
    turns the join into a runtime broadcast from its measured size; the
    per-doc totals are a map-only ``size(array_distinct(...))`` — no
    groupBy anywhere before the final shared-count agg, which is keyed on
    the doc id and map-side combined. Returns
    ``(id_col, n_shared, contamination)`` for contaminated train docs only.

    ``eager=True`` computes the report at call time and returns it cut
    with :func:`eager_cut`; the shingled projection is cached only while
    the call runs, so every call re-derives its report and no result is
    cached across calls. ``eager=False`` returns the whole plan lazy and
    uncut (the mode ``tools/explain_audit.py`` audits).
    """
    split = hash_split(id_col, train_cut)
    sh_arr = F.array_distinct(shingles(F.col(text_col), shingle_n))
    # The shingled projection feeds three consumers (train shingles, eval
    # vocabulary, per-doc totals); without materialization each one
    # re-scans the corpus and re-runs the shingle expressions (audited:
    # 4 parquet scans). The eager path persists it for the length of the
    # call, cuts the (small) report under the session's lineage-cut policy
    # (operators/checkpointing.py) and drops the persist before returning,
    # the minhash_lsh_pairs shape. Cutting the projection itself instead
    # measured ~1.6x slower at sf1.0: the report's three scans read the
    # cut rows slower than the persisted columnar cache.
    # _spread first: a single-file corpus scan otherwise pins the
    # interpreted shingle HOF to ONE task (measured ~4.1 -> ~1.5 s at
    # sf0.1); on a cluster it balances text-length skew across executors.
    base = _spread(docs, id_col).select(
        F.col(id_col), split.alias("__split"), sh_arr.alias("__shs")
    )

    def report_plan(b: DataFrame) -> DataFrame:
        train_sh = (
            b.filter(F.col("__split") == "train")
            .select(F.col(id_col), F.explode("__shs").alias("__sh"))
        )
        # NO broadcast hint, deliberately: with the hash_split eval side
        # this vocabulary is ~20% of the corpus' distinct shingles — a
        # forced broadcast dies at the 8 GB cap / OOMs the driver
        # exactly at the 100 TB design point. AQE
        # converts the join to a broadcast at runtime from its MEASURED
        # size, which is the safe version of the same optimization (and
        # the production decontamination case — a fixed small benchmark
        # suite as the eval side — still gets the broadcast from AQE).
        eval_sh = (
            b.filter(F.col("__split") == "eval")
            .select(F.explode("__shs").alias("__sh"))
            .distinct()
        )
        sizes = b.filter(F.col("__split") == "train").select(
            F.col(id_col), F.size("__shs").alias("__n")
        )
        shared = (
            train_sh.join(eval_sh, "__sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_shared"))
        )
        return shared.join(sizes, id_col).select(
            F.col(id_col),
            F.col("n_shared"),
            (F.col("n_shared").cast("double") / F.col("__n").cast("double")).alias(
                "contamination"
            ),
        )

    if not eager:
        return report_plan(base)
    base = base.persist()
    try:
        return eager_cut(report_plan(base))
    finally:
        base.unpersist()


def _quality_exact(docs: DataFrame, quality_min: float) -> DataFrame:
    """Shared pipeline prefix: quality gate, then exact (fingerprint)
    dedup. Returned LAZY and uncached — the builders derive their fused
    base projection from it (one lineage cut carries everything both
    downstream consumers need; see :func:`_curation_base`).

    min_by aggregation, not a row_number window (round 6, same change as
    exact_dedup): partial map-side combine collapses duplicate docs
    before the exchange — the window form shuffles every row.

    Deliberately NOT ``_spread`` first (measured 2×2 at sf0.1, late r6:
    spread+min_by 3.69 s, spread+window 3.26, nospread+window 3.31,
    nospread+min_by 2.87 — the repartition's extra stages cost more than
    single-task regex on a one-file fixture corpus, because the persisted
    dedup output is materialized once and the pair-generation stage
    ``_spread``s internally anyway). On a real 100 TB corpus the input is
    thousands of splits, so the one-file pathology this would guard
    against does not occur; text-length skew is balanced by the
    fingerprint exchange immediately below."""
    quality = docs.filter(quality_score("text") >= quality_min)
    return keep_min_by(
        quality, [doc_fingerprint("text").alias("__fp")], ["doc_id"]
    )


def _split_stats(kept: DataFrame, train_cut: int) -> DataFrame:
    """Shared pipeline suffix: deterministic split + per-(split, lang)
    doc/token stats. ``kept`` carries either raw ``text`` (token counts
    computed here) or an already-computed ``__tok`` column (the fused
    base of :func:`_curation_base`, which moved the token_count regex
    into the base materialization pass — r20)."""
    tok = F.col("__tok") if "__tok" in kept.columns else token_count("text")
    return (
        kept.select(
            hash_split("doc_id", train_cut).alias("split"),
            "lang",
            tok.alias("__tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__tok").alias("n_tokens"),
        )
    )


def _curation_base(
    docs: DataFrame,
    quality_min: float,
    with_shingles: bool,
    shingle_n: int = 3,
    eager: bool = True,
) -> DataFrame:
    """The builders' fused base projection (r20): quality gate → exact
    dedup → ONE narrow per-doc projection carrying everything BOTH
    downstream consumers need — ``(doc_id, lang, __tok, [__arr])`` where
    ``__tok`` is the token count (the stats leg's only use of ``text``)
    and ``__arr`` the distinct shingle array (pair generation's input;
    omitted when the caller injects precomputed pairs).

    Replaces the pre-r20 two-materialization shape (a ``persist`` of the
    full deduped corpus TEXT for the stats/anti-join leg PLUS a
    localCheckpoint of a second shingle projection inside pair
    generation) with a single ``eager_cut``: document text now never
    enters the cache or the checkpoint at all, the token_count regex
    runs in the same parallel pass as the shingle HOF instead of as a
    separate post-anti-join pass, and there is no persist to scope or
    release (the cache-release invariant holds trivially). Measured
    same-session A/B at sf0.1: ll2 4.28 → 3.72 s min / 4.41 → 3.93
    median, results identical. At 100 TB this is one full-corpus
    materialization instead of two, and the materialized bytes are
    ~40 B/doc + the shingle set rather than the corpus text.

    ``eager=False`` keeps the whole plan lazy (no cut anywhere); each
    consumer then re-derives the base — the documented inspection/
    composition mode, unchanged in spirit from the pre-r20 lazy form.
    The cut follows the session's policy
    (:func:`..operators.checkpointing.eager_cut`).
    """
    exact = _quality_exact(docs, quality_min)
    cols = [
        F.col("doc_id"),
        F.col("lang"),
        token_count("text").alias("__tok"),
    ]
    if with_shingles:
        cols.append(
            F.array_distinct(shingles(F.col("text"), shingle_n)).alias("__arr")
        )
    base = _spread(exact, "doc_id").select(*cols)
    if eager:
        base = eager_cut(base)
    return base


def build_training_corpus(
    docs: DataFrame,
    quality_min: float = 0.66,
    near_dup_threshold: float = 0.2,
    train_cut: int = SPLIT_TRAIN_CUT,
    max_df: int | None = None,
    pairs: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """Run the full curation pipeline; returns per-(split, lang) stats.

    Near-dup policy: greedy per-pair — drop ``id_b`` of every pair (keep
    the smaller id). Cheap (no iteration) but under-merges chains: for
    pairs (A,C),(B,C) it keeps both A and B.
    :func:`build_training_corpus_clustered` is the cluster-exact variant.

    ``max_df`` forwards to :func:`ngram_jaccard_pairs`'s hot-shingle valve
    (the 100 TB posture). ``pairs`` injects a precomputed candidate frame
    — (id_a, id_b) over the quality+exact-deduped ids — e.g. the persisted
    output of a MinHash-LSH pass, mirroring ``signatures=`` one level up;
    when given, pair generation is skipped entirely (``max_df`` ignored).

    ``eager=True`` (default) cuts lineage twice — the fused base
    projection of :func:`_curation_base` and the stats result — under
    the session's policy (:func:`..operators.checkpointing.eager_cut`):
    reliable ``DataFrame.checkpoint`` when the session has a checkpoint
    dir (set ``spark.checkpoint.dir`` on a cluster), else
    executor-resident ``localCheckpoint``. ``eager=False`` cuts nothing.
    """
    # ONE fused materialization (r20, :func:`_curation_base`): the
    # deduped corpus feeds two consumers (pair generation + the final
    # anti-join/stats), and everything either needs fits one narrow
    # projection — (doc_id, lang, token_count, shingle set). The pre-r20
    # shape persisted the full deduped TEXT for the stats leg and cut a
    # second shingle projection inside pair generation; the 100 TB
    # equivalent of this cut is checkpointing the projection to Parquet
    # between the dedup and near-dup stages (~40 B/doc + shingles, vs
    # the corpus text).
    base = _curation_base(
        docs, quality_min, with_shingles=pairs is None, eager=eager
    )
    if pairs is None:
        pairs = ngram_jaccard_pairs_from_projection(
            base.select(F.col("doc_id").alias("__id"), "__arr"),
            threshold=near_dup_threshold, max_df=max_df,
        )
    drop_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = base.join(drop_ids, "doc_id", "left_anti")
    stats = _split_stats(kept, train_cut)
    if eager:
        stats = eager_cut(stats)
    return stats


def build_training_corpus_clustered(
    docs: DataFrame,
    quality_min: float = 0.66,
    near_dup_threshold: float = 0.2,
    train_cut: int = SPLIT_TRAIN_CUT,
    max_df: int | None = None,
    pairs: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """The curation pipeline with the published-standard near-dup policy:
    connected components over the pair graph, keep exactly one document
    (the min id) per cluster — so transitive chains A~B~C collapse to one
    kept doc even when A~C itself falls below the threshold.

    Same shape as :func:`build_training_corpus` plus the iterative CC
    rounds (operators/graph.py: one keyed shuffle + two id-joins per
    round, O(log diameter) rounds, lineage cut per round). The drop set
    is every non-representative cluster member — still tiny relative to
    the corpus, so the anti-join broadcasts under AQE.

    ``max_df`` / ``pairs`` as in :func:`build_training_corpus` — the
    production wiring at 100 TB is capped (or LSH) candidates feeding the
    cluster step. Dropping candidate edges can only SPLIT clusters, so
    the capped pipeline's kept set is always a superset of the exact
    pipeline's kept set (property-tested in tests/test_curation_ops.py).
    Lineage cuts as in :func:`build_training_corpus`, plus the per-round
    CC cuts (operators/graph.py), which run under the same session
    policy even when ``eager=False``.
    """
    from ..operators.graph import connected_components

    # fused-base shape identical to build_training_corpus (r20,
    # :func:`_curation_base`); under eager=False the base stays lazy and
    # only the CC rounds cut lineage
    base = _curation_base(
        docs, quality_min, with_shingles=pairs is None, eager=eager
    )
    if pairs is None:
        pairs = ngram_jaccard_pairs_from_projection(
            base.select(F.col("doc_id").alias("__id"), "__arr"),
            threshold=near_dup_threshold, max_df=max_df,
        )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    drop_ids = cc.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    kept = base.join(drop_ids, "doc_id", "left_anti")
    stats = _split_stats(kept, train_cut)
    if eager:
        stats = eager_cut(stats)
    return stats


# Domain-mixing hash constant — a DIFFERENT odd multiplier than the
# train/eval split's so the two decisions are decorrelated (a doc's split
# must not predict its mixing fate). Same exact-integer-literal rule as
# SPLIT_TRAIN_CUT: thresholds are precomputed ints, never call-site float
# arithmetic.
MIX_MULT = 2246822507  # 0x85EBCA6B (murmur3 finalizer constant)


def domain_mix(
    docs: DataFrame,
    fractions: dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain mixing: keep a per-group hash fraction of docs.

    ``fractions`` maps group value -> keep threshold as an EXACT integer
    out of 2^32 (e.g. ``SPLIT_MOD // 2`` keeps ~half); groups absent from
    the map are dropped. This is the reproducible, shuffle-free form of
    the up/down-sampling step that sets a training mixture's domain
    weights: a map-only hash filter — re-runs, engine changes, and
    repartitions keep exactly the same documents, which ``sample()`` /
    TABLESAMPLE cannot promise. At 100 TB this runs at scan speed and
    composes with any downstream stage.

    Thresholds are validated as exact ints out of 2^32 — a float
    fraction (``{"en": 0.5}``) would silently keep ~nothing — and an
    EMPTY map (drops every row) is refused (review, round 11).
    """
    if not fractions:
        raise ValueError(
            "domain_mix: fractions is empty — every row would be dropped "
            "silently; map each group to keep (or omit domain_mix)"
        )
    for g, cut in fractions.items():
        _check_hash_cut(cut, f"fractions[{g!r}]", "domain_mix")
    h = mulhash32(id_col, MIX_MULT)
    keep = F.lit(False)
    for g, cut in fractions.items():
        keep = keep | ((F.col(group_col) == g) & (h < cut))
    return docs.filter(keep)


# Stratified-sampling hash constant — a third odd multiplier, decorrelated
# from both the split's and the mixer's so sampling fate predicts neither.
SAMP_MULT = 3266489917  # 0xC2B2AE3D (xxhash32 prime #2)


def stratified_sample(
    docs: DataFrame,
    n_per_group: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic EXACT-N per-group sampling: keep, per group, the
    ``n_per_group`` documents with the smallest sampling hash.

    The complement to :func:`domain_mix` (which keeps a hash FRACTION —
    group sizes then track input sizes): dashboards, eval-set carving and
    per-domain inspection want exactly N rows per group regardless of
    group size, still reproducible under re-runs / repartition / engine
    change (``TABLESAMPLE``/``sample()`` are not). Hash order is a total
    order ((hash, id) — ids unique), so the selected set is unique.

    Scale shape: one shuffle keyed on the group for the per-group top-N
    (window row_number over the hash order — N is small, so per-group
    state is a bounded heap-like pass); a skewed giant group is one
    reducer partition — AQE skew-split territory, or pre-filter with a
    hash threshold (domain_mix) to decimate before ranking when groups
    are astronomically larger than N.
    """
    if n_per_group < 1:
        # the top-k class (round 10 sweep): exact-0-per-group is a
        # silently-empty result, not a cheaper sample
        raise ValueError(
            f"stratified_sample: n_per_group must be >= 1, got {n_per_group!r}"
        )
    claim_scratch(docs, "stratified_sample", "__rn")
    h = mulhash32(id_col, SAMP_MULT)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def pack_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy per-group selection under a token budget: rank docs by
    quality (desc, id asc — a total order), take while the running token
    total stays within ``budget_tokens``.

    The data-selection step of corpus assembly ("give me the best N
    tokens per domain") as one window: cumulative sum over the ranked
    order, filter cumsum <= budget. One shuffle keyed on the group; the
    window's running state is a single long. A doc that would cross the
    budget is excluded (strict prefix semantics, exact on both engines —
    quality and token counts are integer-derived).
    Returns the kept rows plus (quality, n_tokens, cum_tokens).

    ``budget_tokens < 1`` is refused: a zero/negative budget is a
    silently-empty corpus masquerading as a cheaper selection (the k<1
    top-k class, review round 11).
    """
    if budget_tokens < 1:
        raise ValueError(
            f"pack_token_budget: budget_tokens must be >= 1, got "
            f"{budget_tokens!r} — a non-positive budget selects nothing"
        )
    q = quality_score(text_col).alias("quality")
    t = token_count(text_col).alias("n_tokens")
    ranked = _spread(docs, id_col).select("*", q, t)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("quality").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )
