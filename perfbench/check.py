"""Correctness gate: DuckDB oracles and the order-insensitive digest.

Every output is forced to full evaluation through :func:`digest` — a row
count plus the decimal sum of a 64-bit hash over *all* output columns, so
no column can be pruned and no row order matters. Once per seed, each
query's digest is checked against its DuckDB twin (``corpus.oracle_sql``):
the oracle's rows are loaded into Spark, cast to the engine's output types
and digested the same way. Where that comparison is not bit-exact the
gate falls back to a row-by-row comparison under the conventions of
``tools/driver_sim.py``; either way the verified digest is the reference
every timed run is compared against. Oracle answers that do not depend on
the seed (the ``order_etl`` layout changes row order and files, never
rows) are computed once per checkout and kept with their digests.
"""

from __future__ import annotations

import decimal
import math

import duckdb


def digest(df) -> tuple[int, int]:
    """(row count, order-insensitive hash over every column) of ``df``."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    h = F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    row = df.agg(F.count(F.lit(1)), h).collect()[0]
    return int(row[0]), int(row[1] or 0)


def duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table: name -> parquet glob."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, glob in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


class Mismatch(AssertionError):
    pass


def oracle_digest(spark, schema, expected_arrow) -> tuple[int, int]:
    """The digest of the oracle's rows cast to the engine's output types."""
    from pyspark.sql import functions as F

    odf = spark.createDataFrame(expected_arrow)
    if len(odf.columns) != len(schema.fields):
        raise Mismatch(f"{len(schema.fields)} columns, oracle has {len(odf.columns)}")
    cast = [F.col(f"`{o}`").cast(f.dataType).alias(f.name) for o, f in zip(odf.columns, schema.fields)]
    return digest(odf.select(*cast))


def verify(spark, name: str, df, got: tuple[int, int], expected_arrow, want=None) -> str:
    """Check the engine digest ``got`` of ``df`` against the oracle's rows
    (or their known digest ``want``).

    Returns how it matched (``"digest"`` or ``"rows"``); raises
    :class:`Mismatch` otherwise.
    """
    if want is None:
        want = oracle_digest(spark, df.schema, expected_arrow)
    if tuple(want) == got:
        return "digest"
    mine = _rows(df.collect())
    theirs = _rows(zip(*(c.to_pylist() for c in expected_arrow.columns)))
    if len(mine) != got[0]:
        raise Mismatch(f"{name}: digest counted {got[0]} rows, collect returned {len(mine)}")
    if mine != theirs:
        diff = [(a, b) for a, b in zip(mine, theirs) if a != b][:2]
        raise Mismatch(f"{name}: {len(mine)} rows vs oracle {len(theirs)}; first diffs {diff}")
    return "rows"
