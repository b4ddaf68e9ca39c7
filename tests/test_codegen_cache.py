"""Re-running a plan must reuse its compiled classes, not compile them again.

Spark caches generated whole-stage-codegen classes per JVM
(``spark.sql.codegen.cache.maxEntries``, sized in ``session.get_spark``);
``CodegenMetrics``' compilation histogram counts one entry per cache miss.
A repeated query round or a later micro-batch that adds to it means the
cache is too small for the working set, or an operator put a per-call value
into generated code. The micro-batch state re-read is checked here too: it
pins the post-state schema, so it starts no schema-inference job.

A micro-batch has a budget too: the Spark jobs it starts and the py4j
round trips its ``foreachBatch`` call makes. Both are fixed costs paid per
batch whatever its size, so a change that adds one shows up on every
batch of every stream.
"""

import pyspark.sql.types as T
import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import DataFrameReader
from pyspark.sql.streaming.readwriter import DataStreamWriter

from data_transform_make_spark import corpus
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
RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


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
    ``streaming_order_pipeline``. Each micro-batch is recorded at the
    ``foreachBatch`` callback's start and end: compile count, jobs started
    and py4j round trips; so is every epoch-state read the pipeline makes."""
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

    batches, reads, calls = [], [], [0]
    real_send = ClientServerConnection.send_command
    real_foreach_batch = DataStreamWriter.foreachBatch
    real_parquet = DataFrameReader.parquet

    def counting_send(self, command):
        # a proxy release frees a JVM object that Python garbage-collected,
        # whenever the collector happens to run: not this batch's work
        if not command.startswith(RELEASE):
            calls[0] += 1
        return real_send(self, command)

    def measured_foreach_batch(self, func):
        def measured(batch_df, epoch_id):
            own.update(jobs=0, calls=0)
            compiles, jobs = _compiles(spark), _jobs_started(spark)
            before = calls[0]
            func(batch_df, epoch_id)
            used = calls[0] - before - own["calls"]
            jobs = _jobs_started(spark) - jobs - own["jobs"]
            batches.append({"start_compiles": compiles, "jobs": jobs, "calls": used})

        return real_foreach_batch(self, measured)

    # the jobs and round trips of the recording below, which a batch's
    # budget leaves out: the replay read infers its schema with a job
    own = {"jobs": 0, "calls": 0}

    def recording_parquet(self, *paths, **kw):
        entered = calls[0]
        jobs = _jobs_started(spark)
        read_from = calls[0]
        df = real_parquet(self, *paths, **kw)
        read_calls = calls[0] - read_from
        jobs = _jobs_started(spark) - jobs
        if any("epoch_" in p for p in paths):
            replay_from = _jobs_started(spark)
            replay = real_parquet(spark.read, *paths)
            reads.append({"jobs": jobs, "schema": df.schema, "replay": replay.schema})
            own["jobs"] += _jobs_started(spark) - replay_from
        own["calls"] += calls[0] - entered - read_calls
        return df

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting_send)
        mp.setattr(DataStreamWriter, "foreachBatch", measured_foreach_batch)
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
    return {"batches": batches, "end": end, "reads": reads}


def test_stream_batches_after_the_first_compile_nothing(stream_run):
    marks = [b["start_compiles"] for b in stream_run["batches"]] + [stream_run["end"]]
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


def test_micro_batch_runs_at_most_four_jobs(stream_run):
    # lines shuffle, stock shuffle, inventory shuffle, epoch write
    jobs = [b["jobs"] for b in stream_run["batches"]]
    assert len(jobs) == N_FILES
    assert max(jobs) <= 4, jobs


def test_micro_batch_plan_takes_a_fixed_handful_of_round_trips(stream_run):
    # every py4j round trip of a micro-batch's foreachBatch call: building
    # the plan, the epoch write and the state re-read. Building the §3.1
    # plan from fresh Column expressions took ~860 per batch.
    calls = [b["calls"] for b in stream_run["batches"]]
    assert len(calls) == N_FILES
    assert max(calls) <= 172, calls
