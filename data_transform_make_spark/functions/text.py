"""Text-analysis column functions for the `documents` table (SURVEY.md §2.10).

Pure Column expressions (JVM-side, whole-stage codegen) with 1:1 ANSI-SQL
twins in ``__spark_entry__.oracle_sql`` so the DuckDB oracle checks
byte-identical semantics — with ONE deliberate exception:
:func:`compression_ratio` is an Arrow-batched ``pandas_udf`` (zlib has no
Column-expression or SQL equivalent; it is certified by an exact
Python-reference test instead). At 100 TB all of these are embarrassingly
parallel map-only ops: no shuffle, run at scan speed.
"""

from __future__ import annotations

import pandas

from pyspark.sql import Column
from pyspark.sql import functions as F

from .expr import let

# Tiny per-language stopword profiles for the heuristic language-ID.
# Deterministic and SQL-expressible — accuracy is not the point, a stable
# documented heuristic is (the fixture text is synthetic).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "est"),
}

# Common English stopwords for the quality score.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text; NULL/empty/blank -> [].

    Empty fragments are FILTERED after the split rather than dodged with a
    trim + blank-check (the pre-r14 form): SQL ``trim`` strips SPACES only,
    so text starting/ending with a tab or newline produced phantom ``''``
    tokens — inflated word counts, a +1 on every bm25 ``dl``, ``''``-bearing
    shingles — identically on both engines (fixture-invisible; found by the
    blind-spot sweep, tests/test_blindspot_sweep.py). The filter also makes
    whitespace-only text [] (the documented contract, previously violated
    for non-space whitespace) and NULL [] (previously NULL here while every
    SQL twin's CASE arm said [] — a latent cross-engine divergence on any
    NULL-bearing corpus). Oracle twins mirror with
    ``list_filter(regexp_split_to_array(...), zz -> zz <> '')``.
    """
    t = F.split(F.trim(F.lower(F.coalesce(_c(col), F.lit("")))), r"\s+")
    # array_remove, not a filter() HOF: same result (split yields no NULL
    # elements), but codegen'd instead of an interpreted lambda —
    # identity-asserted interleaved A/B on the explode+groupBy shape at
    # sf0.1: 0.386 -> 0.335 s min-of-3 (r14)
    return F.array_remove(t, "")


def word_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def token_count(col: Column | str) -> Column:
    """BPE-ish subword count: word-piece regex — runs of letters, runs of
    digits, or single non-space symbols — a cheap deterministic proxy for a
    tokenizer's token count."""
    # regexp_count of the token pattern over the raw text
    return F.regexp_count(_c(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0.0 for empty text)."""
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c).cast("double")
    )


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of whitespace tokens that are stopwords (0.0 for empty).

    Token array let-bound (round 11): the three references used to cost
    three tokenizations per row — see functions/expr.py."""

    def _body(toks: Column) -> Column:
        n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
        return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
            n_stop.cast("double") / F.size(toks).cast("double")
        )

    return let(tokens(col), _body)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    stopword presence. Deterministic, documented, SQL-twinned."""
    c = _c(col)
    len_ok = F.when((F.length(c) >= 50) & (F.length(c) <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(c) >= 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_id(col: Column | str) -> Column:
    """Stopword-profile language guess; 'und' when no profile matches.

    Scores each language by how many of its profile words occur as tokens;
    ties break by profile order (en, de, es, fr) via strictly-greater
    comparison on a left fold.
    """
    def _body(toks: Column) -> Column:
        # toks is let-bound (round 11): one tokenization per row instead
        # of one per language profile — see functions/expr.py
        best_lang = F.lit("und")
        best_score = F.lit(0)
        for lang, words in LANG_STOPWORDS.items():
            score = F.size(F.filter(toks, lambda t: t.isin(*words)))
            better = score > best_score
            best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(better, score).otherwise(best_score)
        return best_lang

    return let(tokens(col), _body)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text. Stable across engines (md5 in both Spark and DuckDB).

    Normalize-THEN-trim (r14): the pre-r14 trim-then-normalize order left
    a leading/trailing space whenever the text's edge whitespace was a tab
    or newline (``trim`` strips spaces only), so ``"a b"`` and ``"\\ta b"``
    fingerprinted as distinct — dedup silently missed them, identically on
    both engines (tests/test_blindspot_sweep.py). After ``\\s+ -> ' '``
    every edge run is a single SPACE, which trim removes; results are
    unchanged for text whose edges are spaces or non-whitespace (all
    fixture rows).
    NULL stays NULL (both engines), never equal to any real fingerprint.
    """
    norm = F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))
    return F.md5(norm)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles: array of space-joined n-token windows.

    Texts with fewer than n tokens yield a single shingle of all tokens, so
    short documents still participate in Jaccard/MinHash dedup.

    NULL/blank text yields an EMPTY array, not ``[""]``: since r14
    ``tokens(NULL)`` is already ``[]`` (the NULL contract lives in the
    tokenizer), so the ``k > 0`` guard's remaining job is the
    zero-token case — without it an empty slice would ``concat_ws`` to
    the ``""`` shingle, every empty pair would Jaccard-match 1.0, and
    the DuckDB twins (whose shingle CTEs guard ``len(t) > 0``) would
    disagree. The POSITIVE-branch form also stays correct if a NULL
    array ever reappears upstream (``size(NULL)`` is NULL under ANSI,
    -1 legacy — neither passes ``> 0``).
    """
    if n < 1:
        # n=0 would emit an empty ("") shingle per window — every doc
        # pair would share it and Jaccard-match (review, round 8)
        raise ValueError(f"shingles: n must be >= 1, got {n!r}")

    def _body(toks: Column) -> Column:
        # toks is let-bound (round 11, functions/expr.py): the free
        # capture inside the per-window transform lambda used to re-run
        # trim+lower+split once PER SHINGLE per row — measured 8.3×
        # (4.62 → 0.56 s over sf0.1 documents), identical output
        k = F.size(toks)
        n_sh = F.greatest(k - F.lit(n - 1), F.lit(1))
        idx = F.sequence(F.lit(1), n_sh)
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.when(k > 0, sh).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), _body)


# PII patterns chosen for cross-engine determinism: plain character
# classes and bounded repetition only — valid and identical under Java
# regex (Spark) and RE2 (DuckDB); no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) occurrence counts — the audit half of
    redaction: at 100 TB the counts feed a per-source contamination
    dashboard while the scrubbed text is written out."""
    c = _c(col)
    return (
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"),
        F.regexp_count(c, F.lit(PHONE_RE)).cast("long"),
    )


def redact_pii(col: Column | str) -> Column:
    """Replace every email / phone occurrence with a typed placeholder.

    Map-only codegen'd regexp_replace (replaces ALL matches; DuckDB twin
    needs the 'g' flag). Order matters: emails first, so a phone-looking
    substring inside an already-redacted email cannot double-fire."""
    c = _c(col)
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(c, PHONE_RE, "<PHONE>")


def split_lines(col: Column | str) -> Column:
    """Text -> array of lines (plain '\\n' split, same as DuckDB's
    non-regex string_split)."""
    return F.split(_c(col), "\n")


def clean_lines(col: Column | str, min_words: int = 3) -> Column:
    """C4/RefinedWeb-style line-level boilerplate cleaning, as one pure
    Column expression (map-only, scan-speed at any scale):

      1. drop blank lines and lines with fewer than ``min_words`` words
         (navigation crumbs, "ok", cookie-bar fragments);
      2. drop repeated lines within the document, keeping the FIRST
         occurrence in reading order (boilerplate headers/footers repeat) —
         a left fold whose accumulator appends a line only when not yet
         present. Deliberately NOT array_distinct (its dedup-order
         guarantee is engine-specific) and NOT a per-element
         ``array_position(kept, x) == i+1`` probe (HOF subtrees are
         interpreted without subexpression elimination, so referencing
         ``kept`` inside the lambda re-splits and re-filters the whole
         document once per line — quadratic in line count with a full
         re-derivation constant; the fold's accumulator is real state,
         touched once per step. Review round 6.)

    Returns the kept-line ARRAY (callers ``array_join`` for text,
    ``size`` for counts). Line-level (not doc-level) dedup is the missing
    granularity between ch1's chunking and d1's whole-doc dedup — the
    published C4 recipe's "three-sentence span" rule family."""
    c = _c(col)
    lines = split_lines(c)
    # word count ignores empty split fragments (r14): trim strips spaces
    # only, so a line starting with a tab counted a phantom '' word and
    # could clear min_words one real word short (both engines agreed —
    # the tokens() find, applied at the line level)
    is_keepable = lambda l: (F.length(F.trim(l)) > 0) & (  # noqa: E731
        F.size(F.array_remove(F.split(F.trim(l), r"\s+"), "")) >= min_words
    )
    kept = F.filter(lines, is_keepable)
    return F.aggregate(
        kept,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )


def compression_ratio(col: Column | str, level: int = 6) -> Column:
    """zlib-compressed size / raw UTF-8 size — the fourth classic text
    quality signal next to :func:`quality_score` (length/punct/stopword),
    repetition stats (ta5), and the unigram LM score (lm1): templated or
    repetitive text compresses far below ~0.4, natural prose sits around
    0.5–0.7, and random/encoded noise approaches (or exceeds) 1.0 — a
    cheap single-number detector for both failure modes that the
    published web-curation recipes gate on.

    Arrow-batched ``pandas_udf`` (zlib is not expressible as a Column
    expression): the Python cost is one C zlib call per document on
    Arrow-transferred batches — no per-row Python dispatch. At 100 TB
    this is the map stage's throughput bound (~100 MB/s/core at level 6);
    pass ``level=1`` for ~3× faster scans — the SIGNAL's ordering, which
    is what a threshold gate consumes, is essentially level-invariant.

    Deterministic for a given zlib build (ratio of exact byte lengths);
    certified by an exact Python-reference test rather than a SQL twin —
    the oracle engine has no zlib, so the corpus entry is honestly
    rows-only (`cr1`), the same class as the multimodal stub kernels.
    NULL text → NULL; empty text → NULL (no bytes to measure)."""
    from pyspark.sql.functions import pandas_udf

    # NB: under `from __future__ import annotations` the hints below are
    # STRINGS, resolved by pyspark against this module's globals — hence
    # the module-level `import pandas`
    @pandas_udf("double")
    def _ratio(s: pandas.Series) -> pandas.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return _ratio(_c(col))
