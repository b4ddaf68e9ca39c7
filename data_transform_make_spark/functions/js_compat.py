"""Exact-semantics helpers for the reference's JS coercion rules.

The reference (routes/makeRouter.js) leans on two JavaScript behaviors that
Spark's ANSI casts do NOT replicate (SURVEY.md §7.4):

* ``parseInt(x || 0)`` — parses the *leading* integer of an arbitrary string
  (``parseInt("12x") == 12``), yields NaN on no digits
  (makeRouter.js:89,108,117,181,186,191).
* falsiness — ``0``, ``""``, null/undefined, NaN are all falsy; used both to
  skip rows (makeRouter.js:94) and to default values (``|| ""`` at
  makeRouter.js:63,67-72).

Everything here is a pure Column expression — JVM-side, codegen'd, no Python
in the data path — so the helpers cost the same as hand-written SQL at any
scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The EXACT whitespace set JS parseInt skips — StrWhiteSpace ∪
# LineTerminator (ES2023 §12.2/§12.3): ASCII \t \n \v \f \r SP, plus
# NBSP, the Zs space separators (OGHAM, EN QUAD…IDEOGRAPHIC SPACE,
# NARROW NBSP, MMSP), LS/PS, and the FEFF BOM. Neither engine's \s is
# right: Java/RE2 \s is ASCII-only (misses NBSP etc. — JS trims
# ' 7' to 7, Java \s yields NaN), while Python's \s ALSO matches
# the C0 file/group/record/unit separators \x1c-\x1f and \x85, which JS
# does NOT (found by hypothesis: '\x1f0'). Enumerated literally so the
# identical class drops into Java regex, RE2 (the DuckDB twin, via the
# @JS_WS@ substitution in corpus.py), and the Python test reference.
JS_WS = (
    "\t\n\x0b\x0c\r "
    "\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_LEADING_INT = "^[" + JS_WS + r"]*([+-]?\d+)"


def js_parse_int(col: Column | str) -> Column:
    """``parseInt(col)`` with JS semantics; NULL where JS yields NaN.

    ``regexp_extract`` pulls the leading optionally-signed digit run after
    whitespace; no match -> '' -> NULL (via nullif) -> try_cast stays NULL.
    ANSI-safe: the extracted token is always castable.

    Documented deviation: ES parseInt with no radix treats a leading
    ``0x``/``0X`` as hex (``parseInt("0x10") == 16``); this helper reads
    the leading DECIMAL run (``"0x10" -> 0``). The reference only ever
    parses decimal counter strings (makeRouter.js:89,108,117,181,186,191),
    so the hex branch is intentionally out of scope — kept identical in
    the engine, the SQL twin, and the property-test reference.
    """
    c = F.col(col) if isinstance(col, str) else col
    tok = F.nullif(F.regexp_extract(c.cast("string"), _LEADING_INT, 1), F.lit(""))
    return tok.try_cast("long")


def js_str_falsy(col: Column | str) -> Column:
    """True where a string column is JS-falsy: NULL or '' (no trim — JS
    ``if (!s)`` does not trim; makeRouter.js:94 checks the raw value)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (c == F.lit(""))


def qty_falsy(col: Column | str) -> Column:
    """True where ``!parseInt(qty)`` in JS: no leading digits (NaN) or 0
    (makeRouter.js:89,94)."""
    n = js_parse_int(col)
    return n.isNull() | (n == F.lit(0))


def default_if_falsy(col: Column | str, default: str = "") -> Column:
    """``col || default`` for string columns (makeRouter.js:63,67-72)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(js_str_falsy(c), F.lit(default)).otherwise(c)
