"""The hash gate: one mutated row must fail the check; row order must not."""

import pyarrow as pa
import pytest


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


ROWS = [(i, f"k{i % 3}", i * 1.5) for i in range(50)]


def test_digest_is_order_insensitive_and_catches_one_mutated_row(spark):
    from perfbench.check import digest

    df = spark.createDataFrame(ROWS, "id long, k string, v double")
    shuffled = spark.createDataFrame(list(reversed(ROWS)), df.schema).repartition(3)
    mutated = list(ROWS)
    mutated[17] = (17, "k2", 25.5 + 0.01)
    bad = spark.createDataFrame(mutated, df.schema)
    assert digest(df) == digest(shuffled)
    assert digest(df)[0] == digest(bad)[0] == 50
    assert digest(df) != digest(bad)


def test_verify_rejects_a_mutated_oracle_row(spark):
    from perfbench.check import Mismatch, digest, verify

    df = spark.createDataFrame(ROWS, "id long, k string, v double")
    good = pa.table({"id": [r[0] for r in ROWS], "k": [r[1] for r in ROWS], "v": [r[2] for r in ROWS]})
    assert verify(spark, "t", df, digest(df), good) == "digest"
    bad = good.set_column(2, "v", pa.array([r[2] + (1.0 if r[0] == 3 else 0.0) for r in ROWS]))
    with pytest.raises(Mismatch):
        verify(spark, "t", df, digest(df), bad)
    # and a mutated engine output fails against the right oracle
    bad_df = spark.createDataFrame([(0, "k0", -1.0)] + ROWS[1:], df.schema)
    with pytest.raises(Mismatch):
        verify(spark, "t", bad_df, digest(bad_df), good)
