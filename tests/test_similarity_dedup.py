"""Recall/quality assertions for the approximate operators (SURVEY.md §2.10):
MinHash-LSH vs exact n-gram Jaccard, SimHash pair sanity, and the three
similarity-search tiers (brute force = ground truth; LSH and IVF probes must
recover most of the true top-k)."""

from pyspark.sql import functions as F

from data_transform_make_spark.operators.dedup import (
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from data_transform_make_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from data_transform_make_spark.sources.loader import load_table


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5))
    approx = _pairs(minhash_lsh_pairs(docs, "doc_id", "text", 32, 8, 3, 0.5))
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below 0.8 ({len(exact)} true pairs)"


def test_ngram_jaccard_materialize_modes_agree(spark, sf_dir):
    """The r9 shingle-projection fold (one localCheckpoint pass instead of
    three) must be a pure execution-strategy choice: identical pair sets
    and jaccard values either way. materialize=False is also the plan the
    EXPLAIN audit inspects (corpus d2 eager=False since r10), so this pins
    that the audited lazy twin IS the shipped computation."""
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        tuple(r) for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.2, materialize=True
        ).collect()
    )
    b = sorted(
        tuple(r) for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.2, materialize=False
        ).collect()
    )
    assert a == b and a


def test_simhash_near_dup_detection(spark):
    """Synthesized corpus (the fixtures have no exact duplicates below
    sf0.1): identical texts must pair at hamming 0; a one-word edit of a
    long text must pair within a small radius; unrelated texts must not
    pair at hamming 0."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the tall green trees"
    )
    edited = base.replace("lazy", "sleepy")
    other = (
        "completely different subject matter entirely about databases and "
        "distributed query execution engines running on large clusters"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)], "doc_id long, text string"
    )
    exact = _pairs(simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=0))
    assert (1, 2) in exact
    assert (1, 4) not in exact and (2, 4) not in exact
    near = _pairs(simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=8))
    assert (1, 3) in near  # one-word edit stays within the radius


def _planted_corpus(spark):
    """200 random background vectors + the query + 12 planted near
    neighbors (small perturbations, cosine ≈ 0.99). The fixture embeddings
    are near-uniform random — pruned-scan recall on them is capped by the
    scan fraction by construction — so recall is asserted on a corpus where
    true neighbors are genuinely close (the regime ANN indexes serve)."""
    import random

    rng = random.Random(7)
    dim = 16
    qv = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [(0, qv)]
    for i in range(1, 13):  # planted neighbors
        rows.append((i, [x + rng.gauss(0, 0.05) for x in qv]))
    for i in range(13, 213):  # background
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, qv


def test_lsh_topk_recall(spark):
    emb, qv = _planted_corpus(spark)
    truth = [r.vec_id for r in brute_force_topk(emb, "embedding", qv, k=10).collect()]
    assert set(truth) <= set(range(13))  # sanity: planted neighbors win
    approx = {
        r.vec_id
        for r in lsh_bucket_topk(
            emb, "embedding", qv, k=10, n_planes=8, multiprobe_hamming=2
        ).collect()
    }
    recall = len(set(truth) & approx) / len(truth)
    assert recall >= 0.8, f"LSH top-k recall {recall:.2f}"
    assert 0 in approx  # the query vector itself must always surface


def test_ngram_jaccard_max_df_cap(spark, sf_dir):
    """The df-cap contract: capped pairs are a subset of exact pairs (a cap
    never invents similarity), and a cap above the corpus's max document
    frequency is a no-op (identical rows, identical jaccard values)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert exact

    # cap above the corpus max df — must be byte-identical to exact
    from data_transform_make_spark.functions.text import shingles as _sh

    max_seen_df = (
        docs.select(F.explode(F.array_distinct(_sh(F.col("text"), 3))).alias("s"))
        .groupBy("s")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5, max_df=max_seen_df
        ).collect()
    }
    assert uncapped == exact

    # aggressive cap — strict subset semantics, and any surviving pair's
    # jaccard can only be under-measured (<= the exact value)
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5, max_df=3).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12


def test_embedding_lsh_near_dup_recall(spark):
    """LSH-blocked near-dup pairs vs the exact all-pairs baseline on the
    planted corpus (the near-dup regime: planted neighbors sit at cosine
    ≈ 0.99 of the query and of each other). Precision must be exact (the
    blocked variant re-checks cosine), recall ≥ 0.9."""
    emb, _ = _planted_corpus(spark)
    exact = _pairs(embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95))
    approx = _pairs(
        embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", 0.95, n_planes=8, multiprobe_hamming=1
        )
    )
    assert exact, "planted corpus must contain true near-dup pairs"
    assert approx <= exact, "blocked pairs must be a subset (exact re-check)"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall {recall:.2f} ({len(exact)} true pairs)"


def test_embedding_lsh_near_dup_fixture_subset(spark, sf_dir):
    """On the fixture embeddings (near-uniform random) the blocked result
    must still be an exact subset of the brute-force result at the corpus
    threshold — zero false positives by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _pairs(embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9))
    approx = _pairs(
        embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", 0.9)
    )
    assert approx <= exact


def test_embedding_lsh_near_dup_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_dup_pairs_lsh(empty, "vec_id", "embedding").count() == 0


def test_embedding_lsh_lazy_when_dim_given(spark):
    """With ``dim`` supplied, constructing the DataFrame must not launch a
    Spark job (the eager one-row dim probe only runs on the ``dim=None``
    fallback). Any job triggered during construction would run under the
    probe job group set here."""
    emb, _ = _planted_corpus(spark)
    sc = spark.sparkContext
    group = "lazy-construction-probe"
    sc.setJobGroup(group, "dim-given construction must be lazy")
    try:
        df = embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", dim=16)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setJobGroup("", "")
    assert df.count() >= 0  # still a runnable plan


def test_lsh_family_max_bucket_df_subset(spark, sf_dir):
    """The shared hot-bucket-valve contract across the LSH family: capped
    output ⊆ uncapped output (dropping a bucket can only remove candidate
    pairs), surviving scores identical (scores come from signatures /
    vectors, not buckets), and a cap above every bucket's membership is a
    no-op."""
    docs = load_table(spark, sf_dir, "documents")

    mh_exact = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 32, 8, 3, 0.2).collect()
    }
    assert mh_exact
    mh_capped = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", 32, 8, 3, 0.2, max_bucket_df=2
        ).collect()
    }
    assert set(mh_capped) <= set(mh_exact)
    for pair, est in mh_capped.items():
        assert est == mh_exact[pair]  # same signatures -> same estimate
    mh_nop = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", 32, 8, 3, 0.2, max_bucket_df=10**9
        ).collect()
    }
    assert mh_nop == mh_exact

    sh_exact = _pairs(simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=12))
    sh_capped = _pairs(
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=12, max_bucket_df=2)
    )
    assert sh_capped <= sh_exact
    assert _pairs(
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=12, max_bucket_df=10**9)
    ) == sh_exact

    emb, _ = _planted_corpus(spark)
    em_exact = _pairs(
        embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", 0.95, dim=16)
    )
    em_capped = _pairs(
        embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", 0.95, dim=16, max_bucket_df=4
        )
    )
    assert em_capped <= em_exact
    assert _pairs(
        embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", 0.95, dim=16, max_bucket_df=10**9
        )
    ) == em_exact


def test_minhash_precomputed_signatures_parity(spark, sf_dir):
    """The 100 TB reuse contract: feeding a precomputed signature table via
    ``signatures=`` (at scale: a parquet signature table written once) must
    produce byte-identical pairs to the inline path. (No persist assertion:
    CacheManager keys by canonicalized plan, so the inline call's cache
    legitimately serves the caller's identical signature plan too.)"""
    from data_transform_make_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    inline = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 32, 8, 3, 0.2).collect()
    }
    sig = minhash_signatures(docs, "doc_id", "text", 32, 3)
    pre = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", 32, 8, 3, 0.2, signatures=sig
        ).collect()
    }
    assert pre == inline


def test_planted_embedding_near_dup_corpus_entry(spark, sf_dir):
    """The d5c corpus entry must demonstrate nonzero LSH pairing (unlike
    d5b on the raw fixture, where the right answer is 0 pairs), with the
    subset-of-exact guarantee intact and recall ≥ 0.9 vs the brute-force
    baseline on the same planted input."""
    from data_transform_make_spark.corpus import _planted_near_dup_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    union = _planted_near_dup_embeddings(emb)
    exact = _pairs(embedding_near_dup_pairs(union, "vec_id", "embedding", 0.98))
    approx = _pairs(
        embedding_near_dup_pairs_lsh(
            union, "vec_id", "embedding", 0.98, n_planes=8, multiprobe_hamming=1, dim=64
        )
    )
    assert len(exact) >= 64, "every planted twin must be a true near-dup pair"
    assert approx, "the driver-visible entry must show nonzero pairs"
    assert approx <= exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"planted LSH recall {recall:.2f} ({len(exact)} true pairs)"


def test_ivf_topk_recall(spark):
    emb, qv = _planted_corpus(spark)
    truth = [r.vec_id for r in brute_force_topk(emb, "embedding", qv, k=10).collect()]
    approx = {
        r.vec_id
        for r in ivf_topk(emb, "embedding", qv, k=10, n_clusters=8, nprobe=2).collect()
    }
    recall = len(set(truth) & approx) / len(truth)
    assert recall >= 0.8, f"IVF top-k recall {recall:.2f}"
    assert 0 in approx


def test_d5c_corpus_entry_recall_vs_exact(spark, sf_dir):
    # The driver records d5c rows-only (63 pairs at sf0.01); this pins the
    # interpretation: on the SAME planted frame the corpus entry uses, the
    # entry's output must capture >= 0.9 of the exact brute-force pairs at
    # the same threshold, and be a subset of them (exact cosine re-check =
    # full precision).
    from data_transform_make_spark import corpus
    from data_transform_make_spark.corpus import _planted_near_dup_embeddings
    from data_transform_make_spark.operators.dedup import embedding_near_dup_pairs
    from data_transform_make_spark.sources.loader import load_table

    got = {
        (r["id_a"], r["id_b"])
        for r in corpus.d5c_embedding_near_dup_lsh_planted(spark, sf_dir).collect()
    }
    union = _planted_near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            union, "vec_id", "embedding", threshold=0.98
        ).collect()
    }
    assert exact, "planted frame must contain true near-dup pairs"
    assert got <= exact  # precision exact by construction
    assert len(got) / len(exact) >= 0.9  # recall bound on the entry itself


def test_degenerate_params_rejected(spark):
    """shingles(n=0) would give every doc the "" shingle (universal
    Jaccard match); minhash_signatures(num_hashes=0) would band into
    zero buckets (silently empty LSH) — both refused at the boundary
    (review, round 8)."""
    import pytest

    from data_transform_make_spark.functions.text import shingles
    from data_transform_make_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n must be"):
        docs.select(shingles("text", 0))
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_signatures(docs, "doc_id", "text", num_hashes=0)


def test_lsh_ivf_boundary_params_rejected(spark):
    """Round-9 review: the remaining silently-wrong/silently-empty
    similarity boundaries. n_planes > 63 would alias bucket bits (Java
    shiftleft wraps mod 64 — wrong Hamming distances, one-bit-apart
    pairs missed); nprobe < 1, empty centroids and a negative multiprobe
    radius each return EMPTY results instead of erroring."""
    import pytest

    from data_transform_make_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )
    from data_transform_make_spark.operators.similarity import (
        assign_ivf_cluster,
        ivf_topk,
        lsh_bucket_topk,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<double>"
    )
    with pytest.raises(ValueError, match="63 planes"):
        lsh_bucket_topk(vecs, "vec", [1.0, 0.0], n_planes=64)
    with pytest.raises(ValueError, match="63 planes"):
        embedding_near_dup_pairs_lsh(vecs, "id", "vec", n_planes=64, dim=2)
    with pytest.raises(ValueError, match="multiprobe_hamming"):
        lsh_bucket_topk(vecs, "vec", [1.0, 0.0], multiprobe_hamming=-1)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk(vecs, "vec", [1.0, 0.0], nprobe=0, centroids=[[0.0, 0.0]])
    with pytest.raises(ValueError, match="centroids is empty"):
        assign_ivf_cluster(None, [])
    # 63 planes is the documented maximum and must still work
    out = lsh_bucket_topk(
        vecs, "vec", [1.0, 0.0], k=1, n_planes=63, id_col="id"
    ).collect()
    assert out and out[0].id == 1


def test_corrupt_embedding_never_wins_topk_or_pairs(spark):
    """Round-10 review: Spark orders NaN ABOVE every double and NaN
    passes >= predicates, so one NaN/Inf element in a corrupt embedding
    used to (a) rank that row FIRST in every cosine top-k and (b) pair
    it with everything in the near-dup operators. cosine_similarity now
    yields NULL for non-finite inputs — sorts last, fails predicates.

    Round 11 totalizes the contract: id 5 is the case the round-10 NaN
    guard missed — a huge-but-finite element (1e200) squares to Inf in
    the norm fold while the dot stays finite, so finite/Inf used to
    score 0.0 (a finite number from a corrupt input) instead of NULL."""
    from data_transform_make_spark.functions.vectors import cosine_similarity
    from data_transform_make_spark.operators.dedup import embedding_near_dup_pairs

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [float("nan"), 0.5]),
            (4, [float("inf"), 1.0]),
            (5, [1e200, 1.0]),
        ],
        "id long, vec array<double>",
    )
    top = brute_force_topk(vecs, "vec", [1.0, 0.0], k=5, id_col="id").collect()
    # real vectors first, corrupt ones (NULL cosine) last — never first
    assert [r.id for r in top[:2]] == [1, 2]
    assert all(r.cosine is None for r in top[2:])
    # pair generation: corrupt rows pair with NOTHING
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(vecs, "id", "vec", threshold=0.5).collect()
    }
    assert pairs == {(1, 2)}
    # and the scalar itself is NULL, not NaN, for both corruption kinds
    import math

    row = vecs.filter("id >= 3").select(
        cosine_similarity("vec", F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    assert len(row) == 3 and all(r.c is None for r in row)
    assert not any(r.c is not None and math.isnan(r.c) for r in row)


def test_cosine_similarity_property_vs_python_reference(spark):
    """Hypothesis cross-check of the round-10 cosine contract against a
    bit-exact Python reference: same left-fold accumulation order, sqrt
    and division are IEEE correctly-rounded in both runtimes, so finite
    results must be EXACTLY equal — and zero-norm / non-finite inputs
    must be None on both sides (never NaN, never a ranked value).

    Round 11: the reference mirrors the totalized contract — a
    non-finite denominator or a ±Inf ratio is None too, so every
    returned value is finite, and the generator plants huge-magnitude
    finite floats (1e155..1e308) whose squares overflow the norm fold
    to exercise exactly that branch."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_transform_make_spark.functions.vectors import cosine_similarity

    def py_cosine(a, b):
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        denom = math.sqrt(na) * math.sqrt(nb)
        if denom == 0:
            return None
        sim = dot / denom
        if math.isnan(sim) or math.isinf(denom) or math.isinf(sim):
            return None
        return sim

    floats = st.one_of(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        # huge finite magnitudes: x*x overflows to Inf in the norm fold
        # while the dot can stay finite — the round-11 denom guard path
        st.floats(min_value=1e155, max_value=1e308, width=64),
        st.floats(min_value=-1e308, max_value=-1e155, width=64),
    )

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=1, max_value=6).flatmap(
            lambda d: st.lists(
                st.tuples(
                    st.lists(floats, min_size=d, max_size=d),
                    st.lists(floats, min_size=d, max_size=d),
                ),
                min_size=1,
                max_size=8,
            )
        )
    )
    def check(pairs):
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(pairs)],
            "i long, a array<double>, b array<double>",
        )
        got = {
            r.i: r.c
            for r in df.select(
                "i", cosine_similarity("a", "b").alias("c")
            ).collect()
        }
        for i, (a, b) in enumerate(pairs):
            want = py_cosine(a, b)
            assert got[i] == want, (a, b, got[i], want)
            if got[i] is not None:
                assert math.isfinite(got[i])

    check()


def test_dedup_blocking_degenerate_params_rejected(spark):
    """Round-10 continuation of the boundary sweep: banding configs
    whose rows_per_band is 0 (one universal bucket — all-pairs blowup,
    or silently EMPTY under max_bucket_df) or that silently drop the
    signature tail; a negative simhash radius (matches nothing); a
    0-token span window (every span '' — corpus-wide false dup_frac)."""
    import pytest

    from data_transform_make_spark.operators.dedup import (
        duplicated_span_report,
        minhash_lsh_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands must be in"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=33)
    with pytest.raises(ValueError, match="bands must be in"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=0)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=5)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=-1)
    with pytest.raises(ValueError, match="window"):
        duplicated_span_report(docs, "doc_id", "text", window=0)


def test_topk_k_below_one_rejected(spark):
    """Round-10 sweep of the same class across every top-k operator:
    k < 1 is a silently-empty result masquerading as a cheaper query —
    refused at the boundary like nprobe/radius/centroids were in r9."""
    import pytest
    from pyspark.sql import functions as F

    from data_transform_make_spark.operators.keywords import tfidf_topk_terms
    from data_transform_make_spark.operators.ranking import bm25_topk
    from data_transform_make_spark.operators.windows import top_k_per_group

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, vec array<double>"
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for call in (
        lambda: brute_force_topk(vecs, "vec", [1.0, 0.0], k=0),
        lambda: lsh_bucket_topk(vecs, "vec", [1.0, 0.0], k=0),
        lambda: ivf_topk(vecs, "vec", [1.0, 0.0], k=0, centroids=[[0.0, 0.0]]),
        lambda: bm25_topk(docs, "doc_id", "text", ["a"], k=0),
        lambda: tfidf_topk_terms(docs, "doc_id", "text", k=-1),
        lambda: top_k_per_group(docs, ["doc_id"], [F.col("text")], 0),
    ):
        with pytest.raises(ValueError, match="k must be >= 1"):
            call()


def test_similarity_threshold_above_one_rejected(spark):
    """Round-11 sweep: Jaccard lives in [0,1] and cosine in [-1,1], so a
    threshold > 1 is PROVABLY empty — the unit mistake (threshold=95 for
    '95%') silently reads as 'no near-dups found'. Refused across all
    four threshold-taking near-dup operators; <= 1 (including the
    accept-all negative end, a visible quadratic choice) stays allowed."""
    import pytest

    from data_transform_make_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, vec array<double>"
    )
    for call in (
        lambda: ngram_jaccard_pairs(docs, "doc_id", "text", threshold=95),
        lambda: minhash_lsh_pairs(docs, "doc_id", "text", threshold=1.5),
        lambda: embedding_near_dup_pairs(vecs, "id", "vec", threshold=95),
        lambda: embedding_near_dup_pairs_lsh(
            vecs, "id", "vec", threshold=1.01, dim=2
        ),
    ):
        with pytest.raises(ValueError, match="threshold must be <= 1"):
            call()
    # the boundary itself is legal: exact-match-only dedup
    assert (
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=1.0).count()
        == 0
    )


def test_dot_mismatched_dims_null_never_outranks(spark):
    """A malformed (shorter) vector must yield a NULL cosine that ranks
    LAST in top-k — never a silently-truncated partial score that could
    outrank a real match (documented in functions/vectors.py)."""
    from data_transform_make_spark.operators.similarity import (
        brute_force_topk,
    )

    vecs = spark.createDataFrame(
        [(1, [0.6, 0.8]), (2, [1.0])], "id long, vec array<double>"
    )
    out = brute_force_topk(vecs, "vec", [1.0, 0.0], k=2, id_col="id").collect()
    # id 2's truncated dot with [1.0] alone would be 1.0 — a perfect
    # (wrong) score; instead its cosine is NULL and it sorts below id 1
    assert [r.id for r in out] == [1, 2]
    assert out[0].cosine is not None and out[1].cosine is None
