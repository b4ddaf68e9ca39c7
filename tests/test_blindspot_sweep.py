"""Cross-engine convention batteries on values the fixture never carries.

Each test asserts one convention the engine shares with its DuckDB
twins (money folds, stats folds, vector cosine, mulhash32 boundary ids,
the tokenize convention, JSON extraction, datetime truncation, the PII
regexes) on adversarial values: NaN/Inf through the folds,
empty/NULL/whitespace-edged documents through the text ops,
zero/empty/non-finite vectors through the similarity ops, boundary ids
through mulhash32. An engine upgrade or a convention edit that silently
moves any of them fails the suite. Where the engines differ by design,
the test pins the difference in its documented direction.
"""

import datetime
import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _is_nan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)


def test_money_fold_battery(con):
    """NaN/Inf are refused loudly; both-sign ties equal DuckDB round()."""
    from data_transform_make_spark.functions.money import money_round_units

    # non-finite: refused loudly — silently casting NaN/Inf to int64
    # yields int64-min garbage on numpy
    for bad in (float("nan"), float("inf"), float("-inf")):
        try:
            money_round_units(pd.Series([1.0, bad]), 100)
            raise AssertionError(f"money fold accepted {bad}")
        except ValueError:
            pass
    # both signs, exact ties AND one-ULP near-ties (any `+ 0.5`-based
    # fold double-rounds the near-ties): equal to DuckDB round() on DOUBLE
    vals = [
        -2.5, -1.005, -0.005, -0.0, 0.0, 0.005, 1.005, 2.5,
        0.004999999999999999, -0.004999999999999999,
        0.005000000000000001, -0.005000000000000001,
    ]
    eng = money_round_units(pd.Series(vals), 100).tolist()
    ora = [
        con.execute(
            f"SELECT CAST(round(CAST({v!r} AS DOUBLE) * 100) AS BIGINT)"
        ).fetchone()[0]
        for v in vals
    ]
    assert eng == ora, (eng, ora)


def test_stats_fold_battery(spark, con):
    """A non-finite quantity aborts both engines; NaN percentiles agree."""
    # mo1's cast(double AS long) moment path: LOUD on both engines for
    # non-finite input (Spark 4 ANSI CAST_OVERFLOW; DuckDB conversion
    # error) — no silent-zero class
    df = spark.createDataFrame([(float("nan"),)], "q double")
    spark_loud = False
    try:
        df.select(F.col("q").cast("long")).collect()
    except Exception:
        spark_loud = True
    duck_loud = False
    try:
        con.execute("SELECT CAST(CAST('NaN' AS DOUBLE) AS BIGINT)").fetchone()
    except Exception:
        duck_loud = True
    assert spark_loud and duck_loud, (spark_loud, duck_loud)

    # pc1's percentile with a NaN present: both engines order NaN above
    # every double, interpolate identically (NaN where NaN is an
    # interpolation endpoint, real values below it)
    df2 = spark.createDataFrame([(1.0,), (2.0,), (float("nan"),)], "x double")
    for p in (0.25, 0.5, 0.75, 0.9):
        sp = df2.agg(F.percentile("x", p)).collect()[0][0]
        du = con.execute(
            f"SELECT quantile_cont(x,{p}) FROM (VALUES (1.0::DOUBLE),"
            f"(2.0::DOUBLE),('NaN'::DOUBLE)) t(x)"
        ).fetchone()[0]
        assert (_is_nan(sp) and _is_nan(du)) or sp == du, (p, sp, du)


def test_vector_battery(spark, con):
    """Zero-norm and empty vectors are NULL on both engines.

    A NaN ELEMENT is NULL engine-side (it ranks last) but NaN in the raw
    oracle expression (it would rank FIRST under DESC): a documented
    test-harness boundary like the Unicode classes, not an engine defect;
    no fixture vector is non-finite.
    """
    from data_transform_make_spark.functions.vectors import cosine_similarity

    rows = [
        ([0.0, 0.0], [1.0, 2.0]),  # zero norm
        ([], []),  # zero-length embedding
        ([float("nan"), 1.0], [1.0, 2.0]),  # corrupt element
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = [r.c for r in df.select(cosine_similarity("a", "b").alias("c")).collect()]
    assert got == [None, None, None], got
    # oracle form (the n1/d5 twin expression) on the same values
    zero = con.execute(
        "SELECT list_dot_product(CAST([0.0,0.0] AS DOUBLE[]), CAST([1.0,2.0] AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST([0.0,0.0] AS DOUBLE[]), CAST([0.0,0.0] AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST([1.0,2.0] AS DOUBLE[]), CAST([1.0,2.0] AS DOUBLE[]))))"
    ).fetchone()[0]
    assert zero is None, zero  # DuckDB float 0/0 -> NULL, same as engine
    nan_cos = con.execute(
        "SELECT list_dot_product(CAST(['NaN'::DOUBLE,1.0] AS DOUBLE[]), CAST([1.0,2.0] AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(['NaN'::DOUBLE,1.0] AS DOUBLE[]), CAST(['NaN'::DOUBLE,1.0] AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST([1.0,2.0] AS DOUBLE[]), CAST([1.0,2.0] AS DOUBLE[]))))"
    ).fetchone()[0]
    assert _is_nan(nan_cos), nan_cos


def test_mulhash_boundary_battery(spark, con):
    """Engine, SQL twin and the exact-integer reference agree at int64
    extremes, negatives and the 2^32 wrap boundary."""
    from data_transform_make_spark.corpus import _duck_mulhash32
    from data_transform_make_spark.plans.training_corpus import (
        SPLIT_MULT,
        mulhash32,
    )

    ids = [
        -(2**63),
        -(2**32) - 1,
        -(2**32),
        -1,
        0,
        1,
        2**31,
        2**32 - 1,
        2**32,
        2**32 + 7,
        2**48 + 12345,
        2**63 - 1,
    ]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    eng = [
        r.h
        for r in df.select(mulhash32("doc_id", SPLIT_MULT).alias("h"))
        .orderBy("doc_id")
        .collect()
    ]
    expr = _duck_mulhash32("doc_id", SPLIT_MULT)
    ora = [
        r[0]
        for r in con.execute(
            f"SELECT {expr} FROM (SELECT unnest(?) AS doc_id) ORDER BY doc_id",
            [sorted(ids)],
        ).fetchall()
    ]
    assert eng == ora, list(zip(sorted(ids), eng, ora))
    # ... and the pure-python reference: (id mod 2^32) * mult mod 2^32
    ref = [((i % 2**32) * SPLIT_MULT) % 2**32 for i in sorted(ids)]
    assert eng == ref, list(zip(sorted(ids), eng, ref))


def test_tokenize_battery(spark, con):
    """tokens/word_count/doc_fingerprint/stopword_ratio equal the SQL twin
    convention on NULL, empty, whitespace-only and tab/newline-edged text
    (no phantom '' token, NULL tokenizes to [])."""
    from data_transform_make_spark.functions.text import (
        doc_fingerprint,
        stopword_ratio,
        tokens,
        word_count,
    )

    # \x0B excluded: Java \s includes it, RE2's does not — a pinned
    # Unicode boundary class (tests/test_unicode_oracle_boundary.py)
    vals = [
        None,
        "",
        " ",
        "   ",
        "\t",
        "\t\n",
        "\ta b",
        "a b\n",
        " a  b ",
        "\t the quick\nfox ",
        "\n\nthe a of\t",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = df.select(
        tokens("t").alias("tk"),
        word_count("t").alias("wc"),
        doc_fingerprint("t").alias("fp"),
        stopword_ratio("t").alias("sr"),
    ).collect()
    for v, r in zip(vals, got):
        du_tk, du_wc, du_fp, du_sr = con.execute(
            r"""
            SELECT list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))), '\s+'),
                               zz -> zz <> ''),
                   len(list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))), '\s+'),
                                   zz -> zz <> '')),
                   md5(trim(regexp_replace(lower(?), '\s+', ' ', 'g'))),
                   CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))), '\s+'), zz -> zz <> '')) = 0
                        THEN CAST(0 AS DOUBLE)
                        ELSE CAST(len(list_filter(list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))), '\s+'), zz -> zz <> ''),
                                                  t -> t IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE)
                             / len(list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))), '\s+'), zz -> zz <> '')) END
            """,
            [v] * 6,
        ).fetchone()
        assert list(r.tk) == list(du_tk), (v, r.tk, du_tk)
        assert r.wc == du_wc, (v, r.wc, du_wc)
        assert r.fp == du_fp, (v, r.fp, du_fp)
        assert r.sr == du_sr, (v, r.sr, du_sr)


def test_json_battery(spark, con):
    """x1's get_json_object / json_extract_string + BIGINT cast convention.

    Duplicate keys (first wins), case-sensitive paths, overflow
    (loud-loud) and unicode escapes agree on valid JSON. Malformed JSON
    is silent-NULL on Spark and loud on DuckDB, and float-form ints are
    loud on Spark and silent on DuckDB: a documented harness boundary,
    since the ingest dead-letter path (S4/i1) is the engine's sanitizer.
    """
    agree_cases = [
        ('{"k": 1}', "1", 1),
        ('{"k": 1, "k": 2}', "1", 1),  # duplicate keys: FIRST wins, both
        ('{"k": 9223372036854775807}', "9223372036854775807", 2**63 - 1),
        ('{"k": "12"}', "12", 12),
        ('{"k": null}', None, None),
        ('{"K": 1}', None, None),  # key lookup is case-sensitive, both
        ('{"a": {"k": 9}}', None, None),  # $.k is top-level only, both
        ('{"k": "\\u0041"}', "A", None),  # unicode escape decoded, both
    ]
    for payload, want_s, want_l in agree_cases:
        df = spark.createDataFrame([(payload,)], "props string")
        s = df.select(F.get_json_object("props", "$.k").alias("v")).collect()[0].v
        d = con.execute(
            "SELECT json_extract_string(?, '$.k')", [payload]
        ).fetchone()[0]
        assert s == d == want_s, (payload, s, d, want_s)
        if want_l is not None:
            sl = df.select(
                F.get_json_object("props", "$.k").cast("long").alias("v")
            ).collect()[0].v
            dl = con.execute(
                "SELECT CAST(json_extract_string(?, '$.k') AS BIGINT)", [payload]
            ).fetchone()[0]
            assert sl == dl == want_l, (payload, sl, dl, want_l)
    # int64 overflow in the cast: LOUD on both engines
    for engine_fn in ("spark", "duck"):
        loud = False
        try:
            if engine_fn == "spark":
                spark.createDataFrame(
                    [('{"k": 9223372036854775808}',)], "props string"
                ).select(
                    F.get_json_object("props", "$.k").cast("long")
                ).collect()
            else:
                con.execute(
                    "SELECT CAST(json_extract_string('{\"k\": 9223372036854775808}',"
                    " '$.k') AS BIGINT)"
                ).fetchone()
        except Exception:
            loud = True
        assert loud, engine_fn
    # DOCUMENTED boundary (not fixed — the ingest path is the engine's
    # sanitizer, exactly as S2 is for whitespace): malformed/truncated/
    # empty JSON is silent-NULL on Spark, a loud Conversion Error on
    # DuckDB; a float-form int ('1e3' -> '1000.0') is a LOUD ANSI cast
    # on Spark, silent 1000 on DuckDB.
    for bad in ('{k: 1}', '{"k": 1', ""):
        df = spark.createDataFrame([(bad,)], "props string")
        s = df.select(F.get_json_object("props", "$.k").alias("v")).collect()[0].v
        assert s is None, (bad, s)
        duck_loud = False
        try:
            con.execute("SELECT json_extract_string(?, '$.k')", [bad]).fetchone()
        except Exception:
            duck_loud = True
        assert duck_loud, bad


def test_datetime_battery(spark, con):
    """date_trunc, tumbling-window alignment and cast-to-long epoch seconds
    agree with DuckDB on pre-1970, epoch-boundary and fractional
    timestamps (the cast FLOORS like floor(epoch())).

    unix_timestamp truncates toward zero and diverges on every pre-1970
    fractional timestamp; the engine never uses it (sessionize and every
    gap computation use the cast form).
    """
    cases = [
        "1900-01-01 00:00:00.000001",
        "1969-07-20 20:17:40.123456",
        "1969-12-31 23:30:00",
        "1969-12-31 23:59:59.999999",
        "1970-01-01 00:00:00",
        "2026-08-15 13:59:59.999999",
    ]
    df = spark.createDataFrame(
        [(datetime.datetime.fromisoformat(t),) for t in cases], "ts timestamp"
    )
    rows = (
        df.select(
            "ts",
            F.date_trunc("hour", "ts").alias("h"),
            F.col("ts").cast("long").alias("c"),
            F.unix_timestamp("ts").alias("u"),
            F.window("ts", "1 hour").alias("w"),  # tumbling: no fan-out
        )
        .orderBy("ts")
        .collect()
    )
    saw_unix_divergence = False
    for t, r in zip(cases, rows):
        dh, de, dw = con.execute(
            "SELECT date_trunc('hour', CAST(? AS TIMESTAMP)),"
            " CAST(floor(epoch(CAST(? AS TIMESTAMP))) AS BIGINT),"
            " time_bucket(INTERVAL '1 hour', CAST(? AS TIMESTAMP))",
            [t, t, t],
        ).fetchone()
        assert str(r.h) == str(dh), (t, r.h, dh)  # trunc agrees pre-1970
        assert str(r.w.start) == str(dw), (t, r.w.start, dw)  # window too
        assert r.c == de, (t, r.c, de)  # cast(ts as long) FLOORS, agrees
        if r.u != de:
            saw_unix_divergence = True
    # the trap, pinned in the divergent direction: unix_timestamp
    # truncates toward zero, so it disagrees with floor(epoch()) on
    # every pre-1970 fractional timestamp — if an engine upgrade makes
    # these agree, the docstring above overstates the hazard
    assert saw_unix_divergence


def test_pii_regex_battery(spark, con):
    """The boundary-free PII patterns count identically under Java regex
    and RE2 on Unicode-adjacent text; \\d stays ASCII on both engines."""
    # pii1's patterns were CHOSEN boundary-free (plain classes, bounded
    # repetition — no \b, whose Java form is Unicode-aware vs RE2's
    # ASCII one, and no lookaround). Verify the choice holds beyond the
    # ASCII fixture: Unicode-adjacent emails/phones (combining marks,
    # full-width digits and @, Arabic-Indic digits, ZWSP) count the
    # same under Java regex and RE2.
    from data_transform_make_spark.functions.text import EMAIL_RE, PHONE_RE

    cases = [
        "a@b.co", "ä@b.co", "a@b.co​", "٣٣٣-٣٣٣-٣٣٣٣",
        "555-123-4567", "x５５５-555-5555", "mail＠b.co", "a@b.c̈o",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    rows = df.select(
        F.regexp_count("t", F.lit(EMAIL_RE)).alias("e"),
        F.regexp_count("t", F.lit(PHONE_RE)).alias("p"),
    ).collect()
    for c, r in zip(cases, rows):
        de, dp = con.execute(
            "SELECT len(regexp_extract_all(?, ?)), len(regexp_extract_all(?, ?))",
            [c, EMAIL_RE, c, PHONE_RE],
        ).fetchone()
        assert (r.e, r.p) == (de, dp), (c, (r.e, r.p), (de, dp))
