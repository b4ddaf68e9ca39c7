"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory knob.
On a real cluster the same conf block applies minus the master/memory lines:
AQE handles skew/coalesce at runtime, shuffle partitions sized to the stage.
Also set ``spark.checkpoint.dir`` (Spark 4.0.0+) to a reliable store
(HDFS/S3) there: the curation operators' eager lineage cuts then write
reliable checkpoints that survive executor loss instead of
executor-resident local ones (operators/checkpointing.py). The engine
reads that dir and never sets it; tests/test_lineage_cut.py checks that
the conf reaches ``sc.getCheckpointDir()``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "data_transform_make_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (bench contract).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest heap on purpose: a 48g heap measurably degrades these
        # small-partition workloads (longer GC pauses, no benefit) — at
        # sf0.1 the working set is well under 16g even with 32 tasks
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Spark caches compiled whole-stage-codegen classes in one JVM-wide
        # LRU of 100 entries by default. The engine re-runs the same plans
        # (every pass, every micro-batch) over a larger working set:
        # ~290 classes per perfbench order_etl pass, ~130 per curation
        # pass, 767 for all corpus queries at sf0.001 run by count() and
        # 952 run by collect(). A 100-entry cache evicts them before reuse, so
        # every pass recompiles all of them. 2000 leaves ~2x headroom over
        # the corpus: AQE picks other join strategies at other data sizes,
        # so the set of plan shapes differs by scale. Static conf, so it
        # binds only sessions built here: a session created elsewhere
        # (tools/driver_sim.py, an external driver) keeps the default of
        # 100, and pin_session_conf cannot raise it at runtime.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # recursive CTEs (rc1): Spark caps ACCUMULATED recursive output at
        # 1M rows by default — a hierarchy query over a >1M-row table
        # aborts mid-recursion regardless of per-level size. 2^31-1 keeps
        # the safety valve (runaway recursion still dies) while admitting
        # real catalog/hierarchy sizes; the level limit (100) is left
        # alone — log-depth recursions never approach it.
        .config("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
        # the default 240m JIT code cache fills after ~50 distinct
        # whole-stage-codegen plans in one JVM; once full the JIT stops
        # compiling and HOF-heavy stages (nested transform/slice in the
        # dedup operators) run interpreted — measured 5x slower. On a
        # cluster, set the same flag in spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable conf we rely on, on an externally-created session.

    The driver owns the session used for correctness runs; these are the
    runtime-settable invariants our queries assume (UTC timestamps so the
    DuckDB oracle sees the same instants; AQE on for skew/coalesce).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
