"""Tests for the round-4 curation operators: connected-components dedup
clustering, eval-set decontamination, and document chunking."""

import pytest
from pyspark.sql import functions as F

from data_transform_make_spark.operators.chunking import chunk_documents
from data_transform_make_spark.operators.graph import connected_components
from data_transform_make_spark.plans.training_corpus import (
    SPLIT_MOD,
    SPLIT_MULT,
    SPLIT_TRAIN_CUT,
    decontamination_report,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, **kw)
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    if "small_graph_threshold" not in kw:
        # these graphs sit under the default threshold, so `out` took the
        # driver union-find fast path; force the distributed fixpoint too
        # and require the identical result — every call covers BOTH paths
        dist = connected_components(df, small_graph_threshold=0, **kw)
        assert {r["id"]: r["cluster_id"] for r in dist.collect()} == got
    return got


class TestConnectedComponents:
    def test_two_components(self, spark):
        got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_chain_transitivity(self, spark):
        # A~B~C~...~H chain: pairs alone would under-merge; CC must not.
        got = _cc(spark, [(i, i + 1) for i in range(1, 8)])
        assert got == {i: 1 for i in range(1, 9)}

    def test_long_chain_converges_in_log_rounds(self, spark):
        # Pointer jumping: a 30-node path converges well inside
        # max_iter=8 (~log2(30) + slack); plain propagation would need 29.
        got = _cc(spark, [(i, i + 1) for i in range(1, 30)], max_iter=8)
        assert got == {i: 1 for i in range(1, 31)}

    def test_long_chain_out_of_rounds_raises(self, spark):
        # a 64-node path needs more than 2 rounds: the distributed fixpoint
        # must fail, not return labels that are still falling
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge in max_iter=2"):
            connected_components(df, max_iter=2, small_graph_threshold=0)

    def test_reversed_and_duplicate_edges(self, spark):
        got = _cc(spark, [(2, 1), (1, 2), (2, 3), (2, 3)])
        assert got == {1: 1, 2: 1, 3: 1}

    def test_empty(self, spark):
        got = _cc(spark, [])
        assert got == {}

    def test_random_graphs_match_union_find(self, spark):
        # Cross-check the distributed algorithm against a reference
        # union-find on seeded random graphs (mixed sparse/dense).
        import random

        for seed, n, m in [(1, 40, 25), (2, 60, 80), (3, 30, 200)]:
            rng = random.Random(seed)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]

            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            touched = {v for e in edges for v in e}
            groups = {}
            for v in touched:
                groups.setdefault(find(v), []).append(v)
            want = {v: min(g) for g in groups.values() for v in g}

            got = _cc(spark, edges)
            assert got == want, f"seed={seed}"


class TestClusteredCuration:
    def test_empty_pair_graph_short_circuits(self, spark):
        """Zero near-dup pairs (the routine well-curated-corpus case) must
        produce an empty cluster frame with the input's id type preserved
        — for long AND string ids — without running any label rounds."""
        from data_transform_make_spark.operators.graph import connected_components

        for schema, id_type in (
            ("id_a long, id_b long", "bigint"),
            ("id_a string, id_b string", "string"),
        ):
            pairs = spark.createDataFrame([], schema)
            cc = connected_components(pairs)
            assert cc.count() == 0
            assert [f.name for f in cc.schema.fields] == ["id", "cluster_id"]
            assert all(f.dataType.simpleString() == id_type for f in cc.schema.fields)

    def test_cluster_policy_merges_unpaired_chain(self, spark):
        # B~C and A~C are near-dups but A~B is not: the greedy per-pair
        # policy (drop id_b of each pair) drops only C, keeping both A
        # and B; the cluster policy keeps exactly one doc (min id) per
        # connected component.
        from data_transform_make_spark.operators.dedup import ngram_jaccard_pairs
        from data_transform_make_spark.operators.graph import connected_components

        # 3-gram shingle sets engineered so J(1,3)>=0.5, J(2,3)>=0.5,
        # J(1,2)<0.5: doc3 shares half its shingles with doc1 and the
        # other half with doc2; doc1 vs doc2 share nothing.
        d1 = "a b c d e f"          # shingles: abc bcd cde def
        d2 = "p q r s t u"          # shingles: pqr qrs rst stu
        d3 = "a b c d x p q r s y"  # shares abc,bcd with d1; pqr,qrs with d2
        docs = spark.createDataFrame(
            [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
        )
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)
        got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got_pairs == {(1, 3), (2, 3)}  # no (1,2): the chain case

        greedy_drop = {r["id_b"] for r in pairs.collect()}
        assert greedy_drop == {3}  # greedy keeps BOTH 1 and 2

        cc = connected_components(pairs)
        cluster_drop = {
            r["id"] for r in cc.filter("cluster_id != id").collect()
        }
        assert cluster_drop == {2, 3}  # cluster keeps only doc 1


class TestDecontamination:
    def _split(self, doc_id):
        return (
            "train"
            if (doc_id * SPLIT_MULT) % SPLIT_MOD < SPLIT_TRAIN_CUT
            else "eval"
        )

    def test_planted_overlap(self, spark):
        # Find real train/eval ids under the production hash so the test
        # exercises the same split expression the operator uses.
        train_ids = [i for i in range(1, 50) if self._split(i) == "train"]
        eval_ids = [i for i in range(1, 50) if self._split(i) == "eval"]
        assert train_ids and eval_ids
        leak = "the quick brown fox jumps"
        clean = "completely different words entirely here"
        rows = [
            (train_ids[0], leak),  # contaminated: shares all 3-grams
            (train_ids[1], clean),  # clean
            (eval_ids[0], leak),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_shared"], r["contamination"])
            for r in decontamination_report(docs).collect()
        }
        # 5 tokens -> 3 distinct 3-grams, all shared with the eval doc.
        assert got == {train_ids[0]: (3, 1.0)}

    def test_partial_overlap_ratio(self, spark):
        train_ids = [i for i in range(1, 50) if self._split(i) == "train"]
        eval_ids = [i for i in range(1, 50) if self._split(i) == "eval"]
        # Train doc: 6 tokens -> 4 shingles; eval doc shares only the
        # leading 3-gram "a b c".
        docs = spark.createDataFrame(
            [(train_ids[0], "a b c d e f"), (eval_ids[0], "a b c")],
            "doc_id long, text string",
        )
        [(doc_id, n_shared, cont)] = [
            (r["doc_id"], r["n_shared"], r["contamination"])
            for r in decontamination_report(docs).collect()
        ]
        assert (doc_id, n_shared) == (train_ids[0], 1)
        assert cont == pytest.approx(0.25)

    def test_no_eval_overlap_empty_report(self, spark):
        train_ids = [i for i in range(1, 50) if self._split(i) == "train"]
        docs = spark.createDataFrame(
            [(train_ids[0], "some training text here")], "doc_id long, text string"
        )
        assert decontamination_report(docs).count() == 0


class TestChunking:
    def test_overlapping_windows(self, spark):
        text = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = chunk_documents(docs, chunk_size=4, stride=3).orderBy("chunk_idx")
        rows = [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in out.collect()]
        assert rows == [
            (0, "t1 t2 t3 t4", 4),
            (1, "t4 t5 t6 t7", 4),
            (2, "t7 t8 t9 t10", 4),
            (3, "t10", 1),
        ]

    def test_short_doc_single_chunk(self, spark):
        docs = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
        rows = chunk_documents(docs, chunk_size=64, stride=48).collect()
        assert len(rows) == 1
        assert rows[0]["chunk_text"] == "only two"
        assert rows[0]["n_tokens"] == 2

    def test_blank_doc_no_rows(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "real text here")], "doc_id long, text string"
        )
        out = chunk_documents(docs, chunk_size=4, stride=4)
        assert [r["doc_id"] for r in out.collect()] == [3]

    def test_null_text_no_rows(self, spark):
        # size(NULL array) is -1 under the non-ANSI default; the starts
        # guard must use <= 0 or sequence(1, -1, stride) throws at runtime.
        docs = spark.createDataFrame(
            [(1, None), (2, "real text here")], "doc_id long, text string"
        )
        out = chunk_documents(docs, chunk_size=4, stride=4)
        assert [r["doc_id"] for r in out.collect()] == [2]

    def test_invalid_args(self, spark):
        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_size=0)
        with pytest.raises(ValueError):
            chunk_documents(docs, stride=0)

    def test_coverage_no_token_lost(self, spark):
        # Every token index is covered by at least one chunk.
        text = " ".join(f"w{i}" for i in range(100))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = chunk_documents(docs, chunk_size=8, stride=5)
        total = out.agg(F.sum("n_tokens")).collect()[0][0]
        # ceil(100/5)=20 chunks; sum of window sizes >= 100 (overlap counted)
        assert out.count() == 20
        assert total >= 100


class TestCappedCandidateInjection:
    """Round-5 production wiring: the hot-shingle valve / precomputed
    candidate frames feeding the cluster-exact curation pipeline."""

    def _docs(self, spark, sf_dir):
        from data_transform_make_spark.sources.loader import load_table

        return load_table(spark, sf_dir, "documents")

    def test_capped_kept_set_is_superset(self, spark, sf_dir):
        # Capped candidates ⊆ exact candidates -> fewer edges can only
        # SPLIT clusters -> fewer non-representative members dropped ->
        # the capped pipeline keeps a SUPERSET of the exact pipeline's
        # corpus. Observable at the stats level as per-group n_docs >=.
        from data_transform_make_spark.plans.training_corpus import (
            build_training_corpus_clustered,
        )

        docs = self._docs(spark, sf_dir)
        exact = {
            (r["split"], r["lang"]): r["n_docs"]
            for r in build_training_corpus_clustered(docs).collect()
        }
        capped = {
            (r["split"], r["lang"]): r["n_docs"]
            for r in build_training_corpus_clustered(docs, max_df=5).collect()
        }
        assert set(exact) <= set(capped)
        for k, n in exact.items():
            assert capped[k] >= n

    def test_pairs_injection_matches_max_df_path(self, spark, sf_dir):
        # Injecting the precomputed capped candidate frame must be
        # byte-identical to letting the builder generate it (the
        # signatures= pattern one level up: at 100 TB the pairs frame is
        # a persisted parquet table reused across policy configurations).
        from data_transform_make_spark.operators.dedup import ngram_jaccard_pairs
        from data_transform_make_spark.plans.training_corpus import (
            _quality_exact,
            build_training_corpus_clustered,
        )

        docs = self._docs(spark, sf_dir)
        exact = _quality_exact(docs, 0.66)
        pairs = ngram_jaccard_pairs(
            exact, "doc_id", "text", shingle_n=3, threshold=0.2, max_df=5
        )
        via_cap = sorted(
            map(tuple, build_training_corpus_clustered(docs, max_df=5).collect())
        )
        via_inj = sorted(
            map(tuple, build_training_corpus_clustered(docs, pairs=pairs).collect())
        )
        assert via_cap == via_inj

    def test_editdist_rerank_accepts_any_pair_frame(self, spark):
        from data_transform_make_spark.operators.dedup import editdist_rerank

        docs = spark.createDataFrame(
            [(1, "kitten"), (2, "sitting"), (3, "kitten")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3)], "id_a long, id_b long"
        )
        got = {
            (r["id_a"], r["id_b"]): r["edit_dist"]
            for r in editdist_rerank(docs, pairs, "doc_id", "text").collect()
        }
        assert got == {(1, 2): 3, (1, 3): 0}


    def test_minhash_lsh_pairs_injection_runs_end_to_end(self, spark, sf_dir):
        # The TRUE 100 TB wiring: MinHash-LSH candidates (the scalable
        # generator, persisted as a parquet pair table in production)
        # feeding the cluster-exact pipeline via pairs=. LSH estimates are
        # approximate (neither subset nor superset of exact Jaccard), so
        # this asserts the composed path's invariants rather than
        # equality: stats well-formed, kept counts never exceed the
        # no-dedup counts, and the pipeline is deterministic.
        from data_transform_make_spark.operators.dedup import minhash_lsh_pairs
        from data_transform_make_spark.plans.training_corpus import (
            _quality_exact,
            build_training_corpus_clustered,
        )
        from data_transform_make_spark.sources.loader import load_table

        docs = load_table(spark, sf_dir, "documents")
        exact = _quality_exact(docs, 0.66)
        lsh_pairs = minhash_lsh_pairs(
            exact, "doc_id", "text", num_hashes=32, bands=8, threshold=0.2
        ).select("id_a", "id_b")
        run1 = sorted(
            map(tuple, build_training_corpus_clustered(docs, pairs=lsh_pairs).collect())
        )
        run2 = sorted(
            map(tuple, build_training_corpus_clustered(docs, pairs=lsh_pairs).collect())
        )
        assert run1 == run2  # deterministic under re-run
        no_dedup = {
            (r["split"], r["lang"]): r["n_docs"]
            for r in build_training_corpus_clustered(
                docs, pairs=spark.createDataFrame([], "id_a long, id_b long")
            ).collect()
        }
        for (split, lang, n_docs, _n_tokens) in run1:
            assert n_docs <= no_dedup[(split, lang)]




class TestNullTextShingles:
    def test_null_text_yields_empty_shingle_array(self, spark):
        # size(NULL)=-1 used to skip the ==0 guard: concat_ws over a NULL
        # slice produced [""], so two NULL-text docs scored Jaccard 1.0
        # while the DuckDB twin's NULL shingle never equi-joins — a
        # cross-engine divergence for dec1/dc1/d6/ll2. NULL must shingle
        # to an EMPTY array on both engines.
        from data_transform_make_spark.functions.text import shingles

        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "real text here now")],
            "doc_id long, text string",
        )
        arrs = {
            r["doc_id"]: r["sh"]
            for r in docs.select("doc_id", shingles("text").alias("sh")).collect()
        }
        assert arrs[1] == [] and arrs[2] == []
        assert arrs[3]

    def test_null_text_docs_produce_no_pairs(self, spark):
        from data_transform_make_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "a b c d"), (4, "a b c d")],
            "doc_id long, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_n=3, threshold=0.5
            ).collect()
        }
        assert pairs == {(3, 4)}  # the NULL docs never pair, even with each other


class TestCacheHygiene:
    """Persist lifetimes are scoped to the operator call: the CacheManager
    must hold NO cached plans after each corpus-facing fn returns, so a
    long-lived multi-tenant session doesn't accumulate executor cache per
    distinct input. (localCheckpoint blocks belong to the RESULT frame and
    are reclaimed by the ContextCleaner when it is dropped — they do not
    register in the CacheManager.)"""

    def _cache_empty(self, spark):
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_minhash_lsh_pairs_releases_signature_cache(self, spark):
        from data_transform_make_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.createDataFrame(
            [(i, f"doc number {i} with some shared tokens here") for i in range(30)],
            "doc_id long, text string",
        )
        out = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.2)
        out.count()
        assert self._cache_empty(spark)

    def test_decontamination_report_holds_no_cache(self, spark):
        """decontamination_report caches nothing: the CacheManager is empty
        once the call returns and after the frame's action, and a second
        call over the same corpus builds a new frame with equal rows."""
        from data_transform_make_spark.plans.training_corpus import (
            decontamination_report,
        )

        docs = spark.createDataFrame(
            [(i, f"the quick brown fox jumps again {i % 3}") for i in range(1, 40)],
            "doc_id long, text string",
        )
        assert self._cache_empty(spark)
        first = decontamination_report(docs)
        assert self._cache_empty(spark)
        rows = sorted(map(tuple, first.collect()))
        assert self._cache_empty(spark)
        second = decontamination_report(docs)
        assert second is not first
        assert sorted(map(tuple, second.collect())) == rows and rows
        assert self._cache_empty(spark)

    def test_training_corpus_builders_release_cache(self, spark, sf_dir):
        from data_transform_make_spark.sources.loader import load_table
        from data_transform_make_spark.plans.training_corpus import (
            build_training_corpus,
            build_training_corpus_clustered,
        )

        docs = load_table(spark, sf_dir, "documents")
        build_training_corpus(docs).count()
        assert self._cache_empty(spark)
        build_training_corpus_clustered(docs).count()
        assert self._cache_empty(spark)


class TestDomainMixing:
    def test_fractions_are_deterministic_and_proportional(self, spark):
        from data_transform_make_spark.plans.training_corpus import (
            SPLIT_MOD,
            domain_mix,
        )

        rows = [(i, "en" if i % 2 == 0 else "de", "x") for i in range(2000)]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        fr = {"en": SPLIT_MOD, "de": SPLIT_MOD // 4}
        kept1 = sorted(r["doc_id"] for r in domain_mix(docs, fr).collect())
        kept2 = sorted(
            r["doc_id"]
            for r in domain_mix(docs.repartition(13), fr).collect()
        )
        assert kept1 == kept2  # identical under repartition (hash, not sample)
        n_en = sum(1 for i in kept1 if i % 2 == 0)
        n_de = len(kept1) - n_en
        assert n_en == 1000  # threshold 2^32 keeps everything
        assert 150 < n_de < 350  # ~25% of 1000, hash-uniform

    def test_unlisted_group_dropped(self, spark):
        from data_transform_make_spark.plans.training_corpus import (
            SPLIT_MOD,
            domain_mix,
        )

        docs = spark.createDataFrame(
            [(1, "en", "x"), (2, "zz", "y")], "doc_id long, lang string, text string"
        )
        kept = domain_mix(docs, {"en": SPLIT_MOD})
        assert [r["doc_id"] for r in kept.collect()] == [1]

    def test_mulhash32_no_overflow_matches_bigint_math(self, spark):
        """mulhash32 must equal Python's arbitrary-precision
        (id * mult) %% 2^32 even for ids past 2^32 / past the signed-64
        product overflow point — the naive column expression goes negative
        there (and DuckDB raises), the multi-billion-doc hazard from the
        round-5 advice."""
        from pyspark.sql import functions as F

        from data_transform_make_spark.plans.training_corpus import (
            MIX_MULT,
            SPLIT_MOD,
            SPLIT_MULT,
            mulhash32,
        )

        ids = [
            0, 1, 2, 65535, 65536, 2**31 - 1, 2**31, 2**32 - 1, 2**32,
            2**32 + 7, 4_100_000_000, 10**12, 2**53, 2**62,
        ]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        for mult in (SPLIT_MULT, MIX_MULT):
            got = {
                r["doc_id"]: r["h"]
                for r in df.select(
                    "doc_id", mulhash32("doc_id", mult).alias("h")
                ).collect()
            }
            for i in ids:
                assert got[i] == (i * mult) % SPLIT_MOD, (i, mult, got[i])

    def test_mulhash32_sql_twin_agrees_on_negative_ids(self, spark):
        """The DuckDB twin reduces the id with sign-following %, which
        went NEGATIVE for negative ids while the engine's F.pmod stayed
        positive — a silent cross-engine divergence outside the pinned
        id >= 0 domain (advice, round 6). The twin now forces the same
        non-negative representative; both engines must agree on EVERY
        long, negative included."""
        import duckdb
        from pyspark.sql import functions as F

        from data_transform_make_spark.corpus import _duck_mulhash32
        from data_transform_make_spark.plans.training_corpus import (
            SPLIT_MULT,
            mulhash32,
        )

        ids = [-1, -2, -65537, -(2**31), -(2**32) - 7, -(10**12), 0, 1, 5]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        engine = {
            r["doc_id"]: r["h"]
            for r in df.select(
                "doc_id", mulhash32("doc_id", SPLIT_MULT).alias("h")
            ).collect()
        }
        sql = _duck_mulhash32("doc_id", SPLIT_MULT)
        con = duckdb.connect()
        for i in ids:
            (twin,) = con.execute(
                f"SELECT {sql} FROM (SELECT CAST({i} AS BIGINT) AS doc_id)"
            ).fetchone()
            assert int(twin) == engine[i], (i, twin, engine[i])


class TestTokenBudgetPacking:
    def test_strict_prefix_within_budget(self, spark):
        from data_transform_make_spark.plans.training_corpus import pack_token_budget

        # Equal quality -> ranked by doc_id; each doc = 4 tokens; budget 10
        # fits exactly 2 docs, the third would cross and must be excluded.
        text = "alpha beta gamma delta"  # 4 word tokens
        docs = spark.createDataFrame(
            [(i, "en", text) for i in range(1, 6)],
            "doc_id long, lang string, text string",
        )
        out = pack_token_budget(docs, 10)
        got = sorted((r["doc_id"], r["cum_tokens"]) for r in out.collect())
        assert got == [(1, 4), (2, 8)]

    def test_budget_is_per_group(self, spark):
        from data_transform_make_spark.plans.training_corpus import pack_token_budget

        text = "alpha beta gamma delta"
        docs = spark.createDataFrame(
            [(1, "en", text), (2, "en", text), (3, "de", text)],
            "doc_id long, lang string, text string",
        )
        out = pack_token_budget(docs, 4)
        got = {(r["lang"], r["doc_id"]) for r in out.collect()}
        assert got == {("en", 1), ("de", 3)}  # one doc per lang fits


class TestStratifiedSample:
    def test_exact_n_per_group_and_determinism(self, spark):
        from data_transform_make_spark.plans.training_corpus import (
            stratified_sample,
        )

        rows = [(i, "en" if i % 2 == 0 else "de", "x") for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got1 = sorted((r.lang, r.doc_id) for r in stratified_sample(docs, 5).collect())
        got2 = sorted(
            (r.lang, r.doc_id)
            for r in stratified_sample(docs.repartition(7), 5).collect()
        )
        assert got1 == got2  # identical under repartition (hash, not sample)
        per = {}
        for lang, _ in got1:
            per[lang] = per.get(lang, 0) + 1
        assert per == {"en": 5, "de": 5}  # EXACTLY N per group

    def test_small_group_keeps_all(self, spark):
        from data_transform_make_spark.plans.training_corpus import (
            stratified_sample,
        )

        docs = spark.createDataFrame(
            [(1, "en", "x"), (2, "en", "y"), (3, "zz", "z")],
            "doc_id long, lang string, text string",
        )
        got = sorted((r.lang, r.doc_id) for r in stratified_sample(docs, 5).collect())
        assert got == [("en", 1), ("en", 2), ("zz", 3)]

    def test_n_below_one_rejected(self, spark):
        """The top-k class (round 10): exact-0-per-group is a silently
        empty result, not a cheaper sample — refused at the boundary."""
        import pytest

        from data_transform_make_spark.plans.training_corpus import (
            stratified_sample,
        )

        docs = spark.createDataFrame(
            [(1, "en", "x")], "doc_id long, lang string, text string"
        )
        with pytest.raises(ValueError, match="n_per_group"):
            stratified_sample(docs, 0)


class TestNullEdgeEndpoints:
    def test_null_endpoints_dropped_identically_on_both_paths(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, None), (None, 5), (None, None), (7, 8)],
            "id_a long, id_b long",
        )
        want = {1: 1, 2: 1, 7: 7, 8: 7}
        fast = {
            r["id"]: r["cluster_id"]
            for r in connected_components(edges).collect()
        }
        dist = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                edges, small_graph_threshold=0
            ).collect()
        }
        assert fast == want and dist == want


class TestHashThresholdGuards:
    """Round-11 boundary sweep: every threshold compared against
    mulhash32 is an exact integer out of 2^32. The natural mistake —
    passing a FRACTION (0.8 for "80%") — used to keep ~1 in 4.3 billion
    rows (hash < 0.8 only when hash == 0): a plausible-looking,
    silently near-empty split/mix. Floats (even integral), out-of-range
    ints, an empty mix map, and non-positive token budgets are all
    refused loudly now."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "en", "good text here"), (2, "de", "mehr text hier")],
            "doc_id long, lang string, text string",
        )

    def test_hash_split_refuses_fractions_and_out_of_range(self, spark):
        import pytest

        from data_transform_make_spark.plans.training_corpus import (
            SPLIT_MOD,
            hash_split,
        )

        with pytest.raises(ValueError, match="fraction"):
            hash_split("doc_id", 0.8)
        with pytest.raises(ValueError, match="fraction"):
            hash_split("doc_id", 1.0)  # integral float is still a fraction
        with pytest.raises(ValueError, match="exact integer"):
            hash_split("doc_id", True)  # bool is not a threshold
        with pytest.raises(ValueError, match=r"\[0, 2\^32\]"):
            hash_split("doc_id", -1)
        with pytest.raises(ValueError, match=r"\[0, 2\^32\]"):
            hash_split("doc_id", SPLIT_MOD + 1)
        # the documented exact form still works end-to-end
        docs = self._docs(spark)
        out = docs.select(hash_split("doc_id", SPLIT_MOD // 2).alias("s"))
        assert set(r.s for r in out.collect()) <= {"train", "eval"}

    def test_domain_mix_refuses_fractions_and_empty_map(self, spark):
        import pytest

        from data_transform_make_spark.plans.training_corpus import (
            SPLIT_MOD,
            domain_mix,
        )

        docs = self._docs(spark)
        with pytest.raises(ValueError, match="fraction"):
            domain_mix(docs, {"en": 0.5})
        with pytest.raises(ValueError, match=r"fractions\['en'\]"):
            domain_mix(docs, {"en": -1})
        with pytest.raises(ValueError, match="empty"):
            domain_mix(docs, {})
        # valid exact thresholds unchanged: keep-all keeps the en row
        kept = domain_mix(docs, {"en": SPLIT_MOD}).collect()
        assert [r.doc_id for r in kept] == [1]

    def test_pack_token_budget_refuses_non_positive(self, spark):
        import pytest

        from data_transform_make_spark.plans.training_corpus import (
            pack_token_budget,
        )

        docs = self._docs(spark)
        for bad in (0, -5):
            with pytest.raises(ValueError, match="budget_tokens"):
                pack_token_budget(docs, bad)
