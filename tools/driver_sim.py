"""Simulate the driver: vanilla SparkSession (no engine conf), smoke entry(),
then run every queries() entry at sf0.01 vs its DuckDB oracle twin.

SIM_MASTER / SIM_SHUFFLE_PARTITIONS env overrides turn the same run into
the corpus-wide PARTITION-INVARIANCE certification (the r8/r9 evidence:
SIM_MASTER=local[3] SIM_SHUFFLE_PARTITIONS=7 must still end FAILS: none —
every oracle MATCH is then a proof the result does not depend on the
parallelism or shuffle layout). Defaults stay the vanilla driver shape."""
import math, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

_builder = SparkSession.builder.master(
    os.environ.get("SIM_MASTER", "local[8]")
).appName("driver-sim")
if os.environ.get("SIM_SHUFFLE_PARTITIONS"):
    _builder = _builder.config(
        "spark.sql.shuffle.partitions", os.environ["SIM_SHUFFLE_PARTITIONS"]
    )
spark = _builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

df = E.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

import duckdb
con = duckdb.connect()
SF = "/root/testdata/sf0.01"
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    import decimal
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v

qs, oracles = E.queries(), E.oracle_sql()
fails = []
for name, fn in sorted(qs.items()):
    t0 = time.perf_counter()
    try:
        sdf = fn(spark, SF)
        srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
        scols = [c.lower() for c in sdf.columns]
        if name in oracles:
            res = con.execute(oracles[name])
            dcols = [d[0].lower() for d in res.description]
            drows = [tuple(norm(v) for v in r) for r in res.fetchall()]
            ok = scols == dcols and sorted(srows, key=repr) == sorted(drows, key=repr)
            status = "MATCH" if ok else "MISMATCH"
            if not ok:
                fails.append(name)
                a, b = sorted(srows, key=repr), sorted(drows, key=repr)
                diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
                print(f"  cols {scols} vs {dcols}; rows {len(srows)} vs {len(drows)}; first diffs {diff}")
        else:
            status = f"ROWS_ONLY({len(srows)})"
        print(f"{name}: {status} [{time.perf_counter()-t0:.1f}s]")
    except Exception as e:
        fails.append(name)
        print(f"{name}: ERROR {str(e)[:200]}")
print("FAILS:", fails if fails else "none")
spark.stop()
sys.exit(1 if fails else 0)
