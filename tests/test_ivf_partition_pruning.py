"""Proof of the n3 scale claim (SCALE.md 'Similarity search'): a corpus
materialized ``partitionBy("ivf_cluster")`` turns the IVF probe's isin
filter into *partition pruning at the scan* — sub-linear I/O, not just
sub-linear compute. The claim is asserted against the physical plan and
against the actual files a pruned scan reads."""

import re

from pyspark.sql import functions as F

from data_transform_make_spark.functions.expr import optimized_plan
from data_transform_make_spark.operators.similarity import (
    assign_ivf_cluster,
    ivf_topk,
    train_ivf_centroids,
)
from data_transform_make_spark.sources.loader import load_table


def test_ivf_probe_prunes_partitions(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, "embedding", n_clusters=4, seed=42)
    path = str(tmp_path / "ivf_corpus")
    (
        emb.withColumn("ivf_cluster", assign_ivf_cluster(F.col("embedding"), centroids))
        .write.partitionBy("ivf_cluster")
        .parquet(path)
    )

    corpus = spark.read.parquet(path)
    probe = corpus.filter(F.col("ivf_cluster").isin([0, 1]))

    # 1. The probe predicate lands as a PartitionFilter, not a data filter.
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "ivf_cluster" in m.group(1), m.group(1)

    # 2. The pruned scan actually reads only the probed clusters' files
    # (input_file_name() reflects post-pruning execution; inputFiles()
    # lists the whole relation and would not show the prune).
    all_files = set(corpus.inputFiles())
    read_files = {
        r[0] for r in probe.select(F.input_file_name()).distinct().collect()
    }
    assert len(read_files) < len(all_files)
    assert all("ivf_cluster=0" in f or "ivf_cluster=1" in f for f in read_files)

    # 3. Same rows as filtering the unpartitioned assignment.
    want = (
        emb.withColumn("ivf_cluster", assign_ivf_cluster(F.col("embedding"), centroids))
        .filter(F.col("ivf_cluster").isin([0, 1]))
        .count()
    )
    assert probe.count() == want


def test_ivf_topk_equals_brute_force_within_probed_clusters(spark, sf_dir):
    """ivf_topk with all clusters probed degenerates to exact brute force —
    the recall=1.0 boundary case pinning the probe logic."""
    from data_transform_make_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = [1.0] * 64
    exact = [
        r["vec_id"]
        for r in brute_force_topk(emb, "embedding", q, k=5).select("vec_id").collect()
    ]
    ivf_all = [
        r["vec_id"]
        for r in ivf_topk(emb, "embedding", q, k=5, n_clusters=4, nprobe=4)
        .select("vec_id")
        .collect()
    ]
    assert ivf_all == exact


def test_ivf_vv_hoist_not_collapsed_back(spark):
    """Round-11 plan pin (a Spark-version pin): the hoisted
    dot(v, v) column stays a SINGLE fold in the optimized plan. The hoist
    relies on CollapseProject refusing to inline a non-cheap alias
    referenced K times — if a Spark version bump relaxes that heuristic,
    the K redundant per-centroid folds come back silently (perf, not
    correctness). Expected shape: K+1 aggregate folds (1 vv + K dot(v,c));
    the un-hoisted form measures 2K (vv inlined per centroid)."""
    from data_transform_make_spark.functions.vectors import dot
    from data_transform_make_spark.operators.similarity import (
        assign_ivf_cluster,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    cent = [[0.0, 1.0], [1.0, 0.0], [0.5, 0.5], [0.2, 0.8]]
    k = len(cent)

    hoisted = df.withColumn("__vv", dot(F.col("v"), F.col("v"))).withColumn(
        "__c", assign_ivf_cluster(F.col("v"), cent, vv=F.col("__vv"))
    )
    plan = optimized_plan(hoisted)
    n_folds = plan.count("aggregate(")
    assert n_folds == k + 1, (
        f"expected {k + 1} folds (1 hoisted vv + {k} per-centroid), got "
        f"{n_folds} — CollapseProject inlined the vv alias; the hoist in "
        "ivf_topk no longer saves the K redundant folds on this Spark "
        "version (operators/similarity.py assign_ivf_cluster)"
    )
    # control: the self-contained form really does pay 2K folds
    inlined = df.withColumn("__c", assign_ivf_cluster(F.col("v"), cent))
    n_inlined = optimized_plan(inlined).count("aggregate(")
    assert n_inlined == 2 * k
