"""Re-running a plan must reuse its compiled classes, not compile them again.

Spark caches generated whole-stage-codegen classes per JVM
(``spark.sql.codegen.cache.maxEntries``, sized in ``session.get_spark``);
``CodegenMetrics``' compilation histogram counts one entry per cache miss.
A repeated query round or a later micro-batch that adds to it means the
cache is too small for the working set, or an operator put a per-call value
into generated code. The micro-batch state re-read is checked here too: it
pins the post-state schema, so it starts no schema-inference job.
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import DataFrameReader

from data_transform_make_spark import corpus
from data_transform_make_spark.plans import order_pipeline
from data_transform_make_spark.streaming.pipelines import streaming_order_pipeline
from perfbench.run import ORDER_ETL_QUERIES

WEBHOOKS = T.StructType(
    [
        T.StructField("webhook_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField(
            "line_items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("inventory_id", T.StringType()),
                        T.StructField("bag_model_website", T.StringType()),
                        T.StructField("qty_website", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)
# bigint counters, the post-state's own types: an int inventory would give
# the first batch a plan of its own and the later batches another
INVENTORY = T.StructType(
    [
        T.StructField("inventory_id", T.StringType()),
        T.StructField("bag_model", T.StringType()),
        T.StructField("general_stock_qty", T.LongType()),
        T.StructField("qty_office", T.LongType()),
    ]
)
N_FILES = 4


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _jobs_started(spark) -> int:
    # the DAG scheduler's job-id counter moves when a job is submitted, in
    # the submitting thread; the status store only sees it later
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_repeated_order_etl_round_compiles_nothing(spark, sf_dir):
    queries = corpus.queries()

    def run_round():
        for name in ORDER_ETL_QUERIES:
            queries[name](spark, sf_dir).collect()

    run_round()
    before = _compiles(spark)
    run_round()
    assert _compiles(spark) - before == 0


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    """One webhook stream of N_FILES micro-batches through
    ``streaming_order_pipeline``, recording the compile count as each batch
    starts and every epoch-state read the pipeline makes."""
    tmp = tmp_path_factory.mktemp("codegen_stream")
    src = str(tmp / "webhooks")
    for i in range(N_FILES):
        spark.createDataFrame(
            [(i, "Approved", [("I1", "Tote", str(i + 1)), ("I2", "Duffel", "1")])],
            WEBHOOKS,
        ).coalesce(1).write.mode("append").parquet(src)
    inv_path = str(tmp / "inventory")
    spark.createDataFrame(
        [("I1", "Tote", 100, 0), ("I2", "Duffel", 50, 1)], INVENTORY
    ).coalesce(1).write.parquet(inv_path)

    batch_start, reads = [], []
    real_pipeline = order_pipeline.order_webhook_pipeline
    real_parquet = DataFrameReader.parquet

    def counting_pipeline(batch, inventory):
        batch_start.append(_compiles(spark))
        return real_pipeline(batch, inventory)

    def recording_parquet(self, *paths, **kw):
        jobs = _jobs_started(spark)
        df = real_parquet(self, *paths, **kw)
        jobs = _jobs_started(spark) - jobs
        if any("epoch_" in p for p in paths):
            replay = real_parquet(spark.read, *paths)
            reads.append({"jobs": jobs, "schema": df.schema, "replay": replay.schema})
        return df

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(order_pipeline, "order_webhook_pipeline", counting_pipeline)
        mp.setattr(DataFrameReader, "parquet", recording_parquet)
        stream = (
            spark.readStream.schema(WEBHOOKS)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_order_pipeline(
            spark, stream, spark.read.parquet(inv_path), state_dir=str(tmp / "state")
        )
        end = _compiles(spark)
    return {"batch_start": batch_start, "end": end, "reads": reads}


def test_stream_batches_after_the_first_compile_nothing(stream_run):
    marks = stream_run["batch_start"] + [stream_run["end"]]
    assert len(marks) == N_FILES + 1
    per_batch = [b - a for a, b in zip(marks, marks[1:])]
    assert per_batch[1:] == [0] * (N_FILES - 1), per_batch


def test_epoch_state_reread_starts_no_job(stream_run):
    reads = stream_run["reads"]
    assert len(reads) == N_FILES
    assert [r["jobs"] for r in reads] == [0] * N_FILES


def test_epoch_state_reread_matches_replay_read(stream_run):
    # the pinned schema and the replay branch's inferred one name and type
    # the same columns
    for r in stream_run["reads"]:
        pinned = [(f.name, f.dataType) for f in r["schema"]]
        assert pinned == [(f.name, f.dataType) for f in r["replay"]]
