"""Driver-sim on a HOSTILE documents fixture (round 14).

The r14 blind-spot sweep proved the tokenize conventions agree on
adversarial VALUES; this closes the loop at the QUERY level: the sf0.001
fixture with adversarial documents appended — NULL text, empty text,
space-only, tab-only, newline-edged, leading/trailing-tab, a whitespace
dup pair that must now fingerprint equal, and a doc whose only content
sits between tabs — then every oracle-twinned ``queries()`` entry runs
through BOTH engines on the same parquet and must match exactly, the
driver's own comparison. This is the test that would have caught the
phantom-''-shingle divergence the hand sweep found in the GREATEST(...)
oracle CTEs (fixed in-round: ``WHERE len(t) > 0`` in all 11).

Non-documents tables are symlinked, so the non-text queries double as a
no-regression control. Run: python tools/adversarial_sim.py (~3 min).
A documents-family subset runs per-suite in
tests/test_adversarial_fixture.py.
"""

import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ADVERS_SF overrides the base fixture (default sf0.001; sf0.01 for a
# deeper pass — the adversarial rows are the same either way)
BASE_SF = os.environ.get("ADVERS_SF", "/root/testdata/sf0.001")

# (doc_id, text, lang, source, n_chars): ids continue past the fixture's
ADVERSARIAL_DOCS = [
    (100001, None, "en", "advers", 0),
    (100002, "", "en", "advers", 0),
    (100003, "   ", "en", "advers", 3),
    (100004, "\t", "en", "advers", 1),
    (100005, "\t\n", "en", "advers", 2),
    (100006, "\tthe quick fox jumps over the lazy dog again", "en", "advers", 44),
    (100007, "the quick fox jumps over the lazy dog again\n", "en", "advers", 44),
    # whitespace dup pair: same words, different edge/interior whitespace —
    # the r14 fingerprint must treat them as EXACT duplicates
    (100008, "alpha beta gamma delta words enough for shingles here", "en", "advers", 53),
    (100009, "\talpha  beta\ngamma delta words enough for shingles here\n", "en", "advers", 56),
    (100010, "only\ttabs\tbetween\twords\there\tnow", "en", "advers", 32),
]

# (event_id, ts, user_id, event_type, value, props). NULL event time,
# NULL user, NULL type, NULL props, and a NEGATIVE exact money tie
# (-12.005 * 100 == -1200.5 exactly — the r14 sign-aware fold class).
# Deliberately EXCLUDED, each a documented harness boundary (pinned in
# tests/test_blindspot_sweep.py): malformed props (DuckDB json errors
# loudly where Spark nulls) and NULL/NaN money (Arrow float transport
# conflates them; the money folds refuse both loudly where SQL SUM skips
# NULL).
ADVERSARIAL_EVENTS = [
    (200001, None, 5, "click", 1.0, '{"k": 1}'),
    (200002, "2024-01-02 10:00:00", None, "click", 1.0, '{"k": 2}'),
    (200003, "2024-01-02 10:05:00", 5, None, 1.0, '{"k": 3}'),
    (200004, "2024-01-02 10:10:00", 5, "click", 1.0, None),
    (200005, "2024-01-02 10:15:00", 5, "purchase", -12.005, '{"k": 4}'),
]

# (vec_id, embedding FLOAT[], label): zero-norm and NULL vectors (the
# engine's NULL-cosine contract; both rank last / never pair).
# Mismatched-LENGTH vectors are EXCLUDED: the engine yields NULL (the
# zip_with pad contract) while DuckDB's list_dot_product errors loudly
# — a documented harness boundary, not an engine defect.
ADVERSARIAL_EMBEDDINGS = [
    (200101, [0.0] * 64, 0),
    (200102, None, 0),
]

# Relational hostility (wave 3): NULL measures, NULL dates, NULL group
# keys, NULL join keys — never NULL money (l_extendedprice/l_discount
# feed the Arrow folds: the documented NULL/NaN conflation boundary)
# and never NULL primary ids (diff1's documented silent-mode gate).
ADVERSARIAL_LINEITEM = [
    # (orderkey, partkey, suppkey, linenumber, qty, price, disc, tax,
    #  returnflag, linestatus, shipdate)
    (300001, 1, 1, 1, None, 100.0, 0.05, 0.02, None, "O", None),
]
ADVERSARIAL_ORDERS = [
    # (orderkey, custkey, status, totalprice, orderdate, priority)
    (300001, None, "O", 100.0, None, None),
]
ADVERSARIAL_CUSTOMER = [
    # (custkey, name, nationkey, acctbal, mktsegment)
    (300001, "hostile customer", None, 0.0, None),
]
# Dimension tables (wave 4): NULL names / group keys / snowflake keys.
# p_retailprice AND p_size stay non-NULL — both feed ga1's Arrow
# grouped-agg fold (the NULL/NaN conflation boundary).
ADVERSARIAL_PART = [(400001, None, None, None, 1, 10.0)]
ADVERSARIAL_SUPPLIER = [(400001, None, None, 0.0)]
ADVERSARIAL_NATION = [(400001, None, None)]
ADVERSARIAL_REGION = [(400001, None)]


def build_fixture(spark) -> str:
    workdir = tempfile.mkdtemp(prefix="sgraft_advers_")
    dst = os.path.join(workdir, "sf_advers")
    os.makedirs(dst)
    import datetime

    from pyspark.sql import functions as F

    extras = {
        "documents.parquet": spark.createDataFrame(
            ADVERSARIAL_DOCS,
            "doc_id long, text string, lang string, source string, n_chars long",
        ),
        "events.parquet": spark.createDataFrame(
            [
                (i, datetime.datetime.fromisoformat(t) if t else None, u, et, v, p)
                for i, t, u, et, v, p in ADVERSARIAL_EVENTS
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ),
        "embeddings.parquet": spark.createDataFrame(
            ADVERSARIAL_EMBEDDINGS, "vec_id long, embedding array<float>, label int"
        ),
        "lineitem.parquet": spark.createDataFrame(
            ADVERSARIAL_LINEITEM,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        ),
        "orders.parquet": spark.createDataFrame(
            ADVERSARIAL_ORDERS,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ),
        "customer.parquet": spark.createDataFrame(
            ADVERSARIAL_CUSTOMER,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ),
        "part.parquet": spark.createDataFrame(
            ADVERSARIAL_PART,
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ),
        "supplier.parquet": spark.createDataFrame(
            ADVERSARIAL_SUPPLIER,
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        ),
        "nation.parquet": spark.createDataFrame(
            ADVERSARIAL_NATION, "n_nationkey int, n_name string, n_regionkey int"
        ),
        "region.parquet": spark.createDataFrame(
            ADVERSARIAL_REGION, "r_regionkey int, r_name string"
        ),
    }
    for entry in os.listdir(BASE_SF):
        if entry in extras:
            base = spark.read.parquet(os.path.join(BASE_SF, entry))
            # align column types to the base schema exactly (the shipped
            # fixtures store ts as timestamp[us], so this is an identity
            # for events). Refuse a nanos-as-long base loudly: casting
            # the extras' TIMESTAMP to LONG would yield epoch SECONDS,
            # land the hostile events at ~1970 after load_table's
            # nanos DIV 1000, and silently gut the NULL-ts coverage
            # (r14 self-review).
            if entry == "events.parquet":
                ts_type = dict(base.dtypes).get("ts")
                if ts_type not in ("timestamp", "timestamp_ntz"):
                    raise AssertionError(
                        f"adversarial_sim: base events ts is {ts_type!r}; "
                        "the hostile-extras cast only preserves instants "
                        "for TIMESTAMP bases — teach build_fixture the "
                        "nanos encoding before pointing ADVERS_SF here"
                    )
            extra = extras[entry].select(
                *[F.col(f.name).cast(f.dataType) for f in base.schema.fields]
            )
            base.unionByName(extra).coalesce(2).write.parquet(
                os.path.join(dst, entry)
            )
        else:
            os.symlink(os.path.join(BASE_SF, entry), os.path.join(dst, entry))
    return dst


def norm(v):
    import decimal

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def run(names=None) -> list:
    """Run the named queries (default: every oracle-twinned one) on the
    hostile fixture through both engines; return the list of failures."""
    import duckdb
    from pyspark.sql import SparkSession

    from data_transform_make_spark import corpus

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("adversarial-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = build_fixture(spark)
    try:
        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            p = f"{sf}/{t}.parquet"
            # Spark writes datasets as DIRECTORIES; the symlinked
            # originals are single files — glob accordingly
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        qs, oracles = corpus.queries(), corpus.oracle_sql()
        todo = names or sorted(n for n in qs if n in oracles)
        fails = []
        for name in todo:
            try:
                sdf = qs[name](spark, sf)
                srows = sorted(
                    (tuple(norm(v) for v in r) for r in sdf.collect()), key=repr
                )
                scols = [c.lower() for c in sdf.columns]
                res = con.execute(oracles[name])
                dcols = [d[0].lower() for d in res.description]
                drows = sorted(
                    (tuple(norm(v) for v in r) for r in res.fetchall()), key=repr
                )
                ok = scols == dcols and srows == drows
                if not ok:
                    fails.append(name)
                    diff = [(x, y) for x, y in zip(srows, drows) if x != y][:2]
                    print(
                        f"{name}: MISMATCH rows {len(srows)} vs {len(drows)}"
                        f" cols {scols} vs {dcols} first-diffs {diff}"
                    )
                else:
                    print(f"{name}: MATCH rows={len(srows)}")
            except Exception as e:
                fails.append(name)
                print(f"{name}: ERROR {str(e)[:200]}")
        return fails
    finally:
        shutil.rmtree(os.path.dirname(sf), ignore_errors=True)
        if names is None:
            spark.stop()


if __name__ == "__main__":
    fails = run()
    print("FAILS:", fails if fails else "none")
    sys.exit(1 if fails else 0)
