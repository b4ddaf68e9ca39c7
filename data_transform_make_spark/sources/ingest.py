"""Raw-ingest stage: sanitize → parse → dead-letter split (SURVEY.md §2.1).

Re-expresses the reference's Express middleware chain (server.js:11-39) as a
set-oriented DataFrame stage:
  * S2 sanitize: strip NUL bytes + trim         (server.js:25)
  * S3 empty-body default: '' -> '{}'           (server.js:27-30)
  * S4 JSON parse with error channel: permissive ``from_json``; rows that
    fail to parse route to a dead-letter DataFrame — the batch twin of the
    HTTP 400 response (server.js:35-38).

The 5 MB request cap (server.js:11) becomes an explicit length filter routed
to the same dead-letter channel.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cols import claim_scratch

MAX_BODY_BYTES = 5 * 1024 * 1024  # server.js:11 express.text limit '5mb'


class IngestResult(NamedTuple):
    parsed: DataFrame  # rows with a valid ``record`` struct column
    dead_letter: DataFrame  # rows rejected (oversize / unparseable) + reason


# JS String.prototype.trim strips WhiteSpace ∪ LineTerminator (ECMA-262):
# the ASCII set (Java regex \s = [ \t\n\x0B\f\r]) plus NBSP, Ogham space,
# the U+2000 block, LS/PS, narrow/medium/ideographic spaces, and the BOM.
_JS_WS_CLASS = (
    "[\\s"          # Java ASCII \\s = [ \\t\\n\\x0B\\f\\r]
    "\u00A0\u1680"   # NBSP, Ogham space mark
    "\u2000-\u200A"  # en/em/thin/hair space block
    "\u2028\u2029"   # line / paragraph separator
    "\u202F\u205F"   # narrow no-break, medium mathematical space
    "\u3000\uFEFF"   # ideographic space, BOM (zero-width no-break)
    "]"
)


def _sanitize_expr(c):
    """Column-level NUL-strip + JS-trim + empty->'{}' (server.js:25,27-30);
    the expression form so callers can gate it under a ``when`` branch.

    NULL body == ABSENT body (r14): ``express.text()`` hands the handler
    ``''`` when no body arrives, so NULL takes the same S3 empty-default
    path to ``'{}'`` — previously NULL propagated through the regexes and
    dead-lettered as invalid_json, a semantics the reference can never
    exhibit (hostile-fixture sim)."""
    cleaned = F.regexp_replace(
        F.regexp_replace(F.coalesce(c, F.lit("")), "\\x00", ""),
        f"^{_JS_WS_CLASS}+|{_JS_WS_CLASS}+$",
        "",
    )
    return F.when(F.length(cleaned) == 0, F.lit("{}")).otherwise(cleaned)


def ingest_with_reason(
    df: DataFrame, schema: T.StructType, body_col: str = "raw_body"
) -> DataFrame:
    """Single-pass ingest: sanitize + parse + routing tag in one projection.

    Returns the input rows with two added columns: ``record`` (the parsed
    struct, NULL on any reject) and ``reject_reason`` (NULL for parsed
    rows, 'payload_too_large' / 'invalid_json' for the dead-letter legs —
    server.js:35-38's 400 path and express.text's 5 MB limit).

    This is the form to feed anything that consumes *both* legs (routing
    counts, a partitioned-by-reason sink): the two-DataFrame split in
    :func:`parse_with_dead_letter` filters this frame twice, and without
    materialization Spark re-runs the scan + ``from_json`` subtree per
    leg — at 100 TB that doubles the most expensive map stage in the
    ingest path. One scan, one parse, routing as data.

    PERMISSIVE ``from_json`` does NOT null out malformed input — it yields
    a struct of null fields — so the error channel is the explicit
    ``_corrupt_record`` column (columnNameOfCorruptRecord).
    """
    # the 5 MB cap applies to the RAW body (server.js:11 — express.text
    # rejects on the request size BEFORE any middleware trims it), so the
    # oversize flag is computed before the sanitize replaces the column:
    # a >5 MB whitespace-padded payload must dead-letter, not trim its way
    # under the cap (review, round 8 — the flag previously read the
    # sanitized column)
    claim_scratch(
        df, "ingest_with_reason", "__oversize", "__rec", "record", "reject_reason"
    )
    # coalesce: octet_length(NULL) is NULL, and a NULL flag would skip
    # BOTH when-branches downstream (the ~NULL parse gate), silently
    # dead-lettering an absent body instead of taking the S3 '{}' path
    oversize_raw = F.coalesce(
        F.octet_length(F.col(body_col)) > MAX_BODY_BYTES, F.lit(False)
    )
    staged = df.withColumn("__oversize", oversize_raw)
    # ADVICE r8: an oversize row's reject reason is already decided, so it
    # skips the sanitize regexp pair and the from_json entirely (CaseWhen
    # branches evaluate lazily per row — multi-MB regex/parse cost per
    # dead-letter row saved); its body rides through RAW, which is also
    # the better dead-letter contract (preserve the payload as received)
    staged = staged.withColumn(
        body_col,
        F.when(F.col("__oversize"), F.col(body_col)).otherwise(
            _sanitize_expr(F.col(body_col))
        ),
    )
    corrupt = "_corrupt_record"
    aug_schema = T.StructType(
        [*schema.fields, T.StructField(corrupt, T.StringType())]
    )
    parsed_col = F.from_json(
        F.when(~F.col("__oversize"), F.col(body_col)),
        aug_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
    )
    staged = staged.withColumn("__rec", parsed_col)
    bad_parse = F.col(f"__rec.{corrupt}").isNotNull() | F.col("__rec").isNull()
    reason = (
        F.when(F.col("__oversize"), F.lit("payload_too_large"))
        .when(bad_parse, F.lit("invalid_json"))
    )
    record = F.when(
        reason.isNull(),
        F.struct(*[F.col(f"__rec.{f.name}") for f in schema.fields]),
    )
    return (
        staged.withColumn("reject_reason", reason)
        .withColumn("record", record)
        .drop("__oversize", "__rec")
    )


def parse_with_dead_letter(
    df: DataFrame, schema: T.StructType, body_col: str = "raw_body"
) -> IngestResult:
    """Permissive JSON parse; malformed or oversize rows -> dead letter.

    The two-DataFrame view over :func:`ingest_with_reason` — convenient
    when the legs feed *different* sinks. Each leg is a filter over the
    tagged frame, so consuming both re-evaluates the parse subtree unless
    the caller materializes; prefer ``ingest_with_reason`` when one
    downstream operator consumes both legs.
    """
    tagged = ingest_with_reason(df, schema, body_col)
    good = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    dead = tagged.filter(F.col("reject_reason").isNotNull()).drop("record")
    return IngestResult(parsed=good, dead_letter=dead)
