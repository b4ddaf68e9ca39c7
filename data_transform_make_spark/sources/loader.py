"""Table loader for the driver-generated Parquet fixtures (TESTDATA.md).

Parquet scans are the engine's default source: columnar, predicate-pushdown,
column-pruned by Catalyst. Loading is lazy — a ``load_table`` is just a scan
node until an action runs, so queries that project 2 columns read 2 columns
(``.explain`` shows ReadSchema), which is the behavior that matters at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import pin_session_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Schema memo for :func:`load_table` — METADATA only, never data or
# results (r20 optimization). Parquet schema inference re-reads the file
# footer through a fresh DataSource resolution on EVERY ``read.parquet``
# call (~100 ms of driver-side py4j + footer IO per call in this
# environment, measured vs ~20 ms with an explicit schema), and the
# engine's queries call load_table 1-6 times each INSIDE the timed
# region. Production engines do not re-infer table schemas per query —
# they read them from a catalog/manifest (the same argument the
# optimization guide makes for table formats at §6). The memo is the
# in-process catalog: keyed by (path, size, mtime_ns) so a rewritten
# fixture re-infers, holding only the StructType. A fresh process (each
# bench pass is its own subprocess) starts empty and pays one inference
# per table — nothing is reused ACROSS runs, every invocation still
# computes from the parquet inputs.
#
# Layout assumption (advice, round 20): the key os.stat()s the TOP-LEVEL
# path, which is exact for the flat single-file fixtures this loader
# serves and for Spark-style overwrite of a directory dataset (overwrite
# recreates the directory, changing its mtime). An in-place rewrite of a
# part file INSIDE a directory-style dataset that preserves the
# directory's entry list would leave dir size/mtime unchanged and serve
# a stale schema — if this loader ever grows a directory-dataset caller
# with in-place part rewrites, fold the max part-file mtime into the key.
_SCHEMA_MEMO: dict[tuple, object] = {}

# Conf-pin flag attribute set on the SparkSession once its four runtime
# invariants (UTC session TZ, AQE on, legacy nanos-as-long parquet read,
# NTZ inference off) have been pinned (r21 optimization; r20 "not yet
# optimized" #3). Each ``spark.conf.set`` is a py4j round-trip and
# ``load_table`` runs 1-6 times INSIDE every timed query — the four
# per-call sets summed to ~0.2-0.25 s across a bench pass while writing
# the same values every time. The pin is now once per session object
# (a flag attribute on the session itself): a fresh session —
# the driver's vanilla session, each bench-pass subprocess — pays it
# exactly once.
#
# CONTRACT (the invalidation hook): the per-call re-pin used to silently
# repair a caller who mutated one of the pinned confs between queries.
# That repair was never a documented API — the engine's own queries all
# assume the pinned values end-to-end — but a caller who deliberately
# mutates them can restore the old behavior by calling
# :func:`unpin_session_conf` afterwards, which forces the next
# ``load_table`` to re-pin. ``tests/test_loader_conf_pin.py`` pins both
# directions (skip-when-pinned, re-pin-after-unpin).
_PIN_ATTR = "_dtm_conf_pinned"


def _pin_once(spark: SparkSession) -> None:
    if getattr(spark, _PIN_ATTR, False):
        return
    pin_session_conf(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    setattr(spark, _PIN_ATTR, True)


def unpin_session_conf(spark: SparkSession) -> None:
    """Invalidate the once-per-session conf pin: the next ``load_table``
    on this session re-pins all four runtime invariants. Call after
    deliberately mutating session TZ / AQE / legacy-parquet confs."""
    if getattr(spark, _PIN_ATTR, False):
        setattr(spark, _PIN_ATTR, False)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one fixture table.

    ``events.ts`` normalizes to TIMESTAMP (LTZ — watermarks and event-time
    windows require it) regardless of how the fixture was written:
    TIMESTAMP(NANOS) parquet (unsupported natively) is read as raw nanos
    (legacy long mode) and truncated to micros — byte-identical to DuckDB's
    truncating read — while a plain ``timestamp[us]`` file is read with NTZ
    inference disabled, so the stored micros land directly as LTZ instants
    **at scan time, with no session-TZ dependence**: under the pinned-UTC
    session this is bit-identical to the previous NTZ→LTZ cast, but a
    caller mutating ``spark.sql.session.timeZone`` between load and action
    can no longer shift the instants (the cast path remains only as a
    fallback for frames built before the conf applies).

    The inferred schema is memoized per (path, size, mtime) — see
    ``_SCHEMA_MEMO`` above; the conf pin is once per session — see
    ``_PIN_ATTR``/``unpin_session_conf`` above — so a memoized schema is
    decoded under exactly the conf it was inferred under.
    """
    _pin_once(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        # non-local / unstat-able path: skip the memo, infer as before
        key = None
    if key is not None and key in _SCHEMA_MEMO:
        df = spark.read.schema(_SCHEMA_MEMO[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    from pyspark.sql import functions as F  # local import keeps module load light
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views so callers can query the
    engine in plain SQL (``spark.sql(...)``) — the same names the DuckDB
    oracle registers, so dialect-common SQL runs verbatim on both engines.
    Pass ``tables`` to register only what the query touches (skips the
    other parquet footer reads on hot paths)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
