"""The text-oracle convention's Unicode boundary, pinned (round 13).

The fingerprint/tokenize oracle twins assume Spark (Java regex +
java.lang.String casing) and DuckDB (RE2 + utf8proc) agree on
``lower``/``trim``/``\\s+``. Probed beyond the ASCII fixture, they
agree on everything probed EXCEPT three classes, pinned here in both
directions:

  * AGREEMENT battery — NBSP / ideographic space / ZWSP (none are
    ``\\s`` to either engine), combining marks, astral-plane chars,
    sharp-s, tabs/newlines: a Spark or DuckDB upgrade that silently
    shifts any of these breaks the oracle convention corpus-wide and
    must surface here first.
  * DIVERGENCE battery — the three known classes stay known:
    (1) U+0130 İ lowers to ``i`` + combining dot in Java, bare ``i``
    in utf8proc; (2) Java toLowerCase is context-sensitive for Greek
    final sigma (Σ → ς word-finally), utf8proc maps every Σ → σ;
    (3) Java regex ``\\s`` includes vertical tab U+000B, RE2's does
    not. If an upgrade makes one AGREE, this fails too — then the
    class list above shrinks and the case moves up a battery.

Production posture: the engine's own fingerprint/tokenize are
single-engine deterministic at any scale; the DuckDB twin is a test
harness, exact on text avoiding the three classes (all fixture data,
and the overwhelming bulk of real corpora).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

AGREE = [
    ("ascii", "Hello  World"),
    ("nbsp", "a b"),
    ("fullwidth_space", "a　b"),
    ("zero_width_space", "a​b"),
    ("combining_acute", "éclair"),
    ("sharp_s", "STRAßE straße"),
    ("astral_math_bold", "\U0001d400bc"),
    ("tab_nl", " a\tb\nc "),
    ("unit_separator", "a\x1fb"),
]
DIVERGE = [
    ("turkish_dotted_I", "Iİ iı"),
    ("greek_final_sigma", "ΣΟΦΟΣ"),
    ("vertical_tab", "a\x0bb"),
]


def _both(spark, text):
    # the SHIPPED r14 convention on both sides: normalize-then-trim
    # fingerprints, empty-filtered token arrays (functions/text.py)
    from data_transform_make_spark.functions.text import (
        doc_fingerprint,
        tokens,
    )

    row = (
        spark.range(1)
        .select(
            doc_fingerprint(F.lit(text)).alias("fp"),
            tokens(F.lit(text)).alias("toks"),
        )
        .collect()[0]
    )
    d = duckdb.sql(
        "SELECT md5(trim(regexp_replace(lower(?), '\\s+', ' ', 'g'))),"
        " list_filter(regexp_split_to_array(trim(lower(coalesce(?, ''))),"
        " '\\s+'), zz -> zz <> '')",
        params=[text, text],
    ).fetchone()
    return (row["fp"], row["toks"]), (d[0], d[1])


@pytest.mark.parametrize("name,text", AGREE, ids=[n for n, _ in AGREE])
def test_oracle_convention_agreement_battery(spark, name, text):
    got_spark, got_duck = _both(spark, text)
    assert got_spark == got_duck, (
        f"{name}: Spark and DuckDB no longer agree — an engine upgrade "
        "moved the text-oracle convention's boundary"
    )


@pytest.mark.parametrize("name,text", DIVERGE, ids=[n for n, _ in DIVERGE])
def test_oracle_convention_known_divergences(spark, name, text):
    got_spark, got_duck = _both(spark, text)
    assert got_spark != got_duck, (
        f"{name}: the engines now AGREE on a documented divergence class "
        "— shrink this module's class list and move this case to "
        "the agreement battery"
    )
