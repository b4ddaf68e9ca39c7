"""Deduplication operators: exact, first-wins, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup (SURVEY.md §2.2 P4, §2.10).

Scale notes (the 100 TB design point):
  * ``first_wins_dedup`` is one shuffle on the key — ``keep_min_by``'s
    map-side-combining ``min_by(struct(*), struct(order))`` aggregate —
    the correct replication of the reference's order-sensitive Set dedup
    (makeRouter.js:86,99-101,127) under parallelism; ``dropDuplicates``
    picks an arbitrary row per key across partitions (SURVEY.md §7.4.3).
  * MinHash/SimHash signatures are **map-only** — per-document HOF folds
    (``transform``/``aggregate`` over the token array), no explode, no
    shuffle. The only shuffle in the whole LSH pipeline is the band-bucket
    self-join. At 100 TB the signature stage runs at scan speed.
  * Exact n-gram Jaccard uses a shingle inverted index (groupBy shingle →
    per-posting-list pair generation) instead of a shingle self-join — one
    wide shuffle fewer, and the generated-pair count is exactly
    Σ C(df,2), never the join's Σ df² intermediate.
  * All hashing is ``xxhash64`` — JVM-side, codegen'd, deterministic across
    runs and partitionings.
  * Inputs are ``_spread`` (hash-repartitioned on the doc id) before the
    expensive per-doc expressions: a single small parquet file otherwise
    pins the whole map stage to one task (observed 5× on the bench), and on
    a cluster it balances text-length skew across executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import let
from ..functions.text import shingles, tokens
from .checkpointing import eager_cut


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` to the session's default parallelism.

    Used ahead of expensive per-row expressions so the map stage parallelizes
    even when the source collapses to few input splits; keying by the doc id
    also pre-aligns any later per-id aggregation.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def keep_min_by(
    df: DataFrame,
    keys: list,
    order_cols: list,
    packed_order: bool = False,
    bounds_probe: DataFrame | None = None,
) -> DataFrame:
    """Keep, per key group, the single row that is minimal under the
    total order ``order_cols`` — the shared kernel of every first-wins /
    smallest-id dedup in the engine.

    ``groupBy(keys).agg(min_by(struct(*), struct(order_cols)))`` rather
    than a row_number window (round 6): the aggregate PARTIALLY COMBINES
    map-side, so non-winning rows collapse before the exchange — on a
    duplicate-heavy 100 TB web corpus the shuffle moves ~|distinct keys|
    rows, where the window form (no partial aggregation) shuffles every
    input row and then sorts each group (measured 1.00 -> 0.57 s on the
    sf0.1 lineitem first-wins). min over a total order is associative,
    so this composes natively with salted two-stage selection on hot
    keys. ``keys`` may be names or Column expressions; ``order_cols``
    MUST be a total order within each group or the winner is
    partition-dependent (same contract the window form had).

    ``packed_order=True`` (r21 optimization, guide §2.3 narrower types /
    §5 hash vs sort aggregate) opts into a bounds-checked fast path:
    ``min_by`` over struct buffers compiles to **SortAggregate**
    everywhere (struct agg buffers are not UnsafeRow-mutable — r20
    falsification #7), so every call pays a sort on both sides of its
    exchange. When the row is fully determined by ``keys + order_cols``
    and the two order columns are integral-valued and jointly fit in 63
    bits, the pair packs losslessly into ONE bigint whose numeric order
    IS the lexicographic order — ``min(packed)`` then compiles to
    HashAggregate and the shuffle carries 8 bytes of order instead of a
    struct. Eligibility is verified at plan-build time by a cheap
    narrow aggregate over the order columns (or over ``bounds_probe``, a
    caller-supplied SUPERSET frame — e.g. the raw table feeding a join —
    whose bounds are cheaper to read and conservatively valid for any
    row subset); any violation (NULLs, NaN, fractional or ``-0.0``
    doubles, joint range over 63 bits) falls back to the min_by(struct)
    path, so results are identical by construction on EVERY input. See
    ``_packed_min_by``.
    """
    if packed_order:
        fast = _packed_min_by(df, keys, order_cols, bounds_probe)
        if fast is not None:
            return fast
    return KeepMinBy(df.columns, keys, order_cols)(df)


class KeepMinBy:
    """:func:`keep_min_by`'s struct path for frames with columns ``cols``:
    the Column expressions are built once, here, and applied to any number
    of such frames (each built Column costs py4j round trips, so a stream
    that dedups every micro-batch builds them once per stream).

    Name keys are selected from the aggregate's grouping output, not from
    the winning struct: the result then keeps the aggregate's hash
    partitioning on those keys, so a later operator clustered on them
    (a window, join or aggregate) needs no exchange of its own.
    """

    def __init__(self, cols: list[str], keys: list, order_cols: list) -> None:
        ordk = F.struct(*[F.col(c) if isinstance(c, str) else c for c in order_cols])
        self.keys = [F.col(k) if isinstance(k, str) else k for k in keys]
        self.agg = F.min_by(F.struct(*cols), ordk).alias("__r")
        names = {k for k in keys if isinstance(k, str)}
        self.out = [F.col(c) if c in names else F.col("__r")[c].alias(c) for c in cols]

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys).agg(self.agg).select(*self.out)


def _packed_min_by(
    df: DataFrame,
    keys: list,
    order_cols: list,
    bounds_probe: DataFrame | None = None,
):
    """Hash-aggregable first-wins kernel: ``min(packed_bigint)`` where the
    packed value order-embeds the ``(a, b)`` order pair. Returns ``None``
    whenever the safe struct path must be used instead.

    Structure required (else ``None``): plain-name keys/order columns,
    exactly two order columns, and every payload column a key or an
    order column (the winning row then decodes entirely from the packed
    min — no payload travels in the aggregation buffer).

    Value safety (else ``None``): one narrow global aggregate reads
    ``min/max`` of both order columns, their null counts, and — for a
    DOUBLE second column — whether any value fails the exact
    long-round-trip (fractional, NaN/Inf, out of 2^63 range) or is
    ``-0.0`` (which would decode as ``+0.0``: same ordering, different
    bytes). The observed ranges pick the split ``k`` =
    bit-length(b_range); eligibility requires a_range < 2^(63-k). The
    encoding ``(a - a_min) * 2^k + (b - b_min)`` is then a strictly
    order-preserving injection into [0, 2^63) — min(packed) is EXACTLY
    min_by the lexicographic pair, and shiftright/bitwiseAND decode the
    winner losslessly. NULL order values are ineligible (min() skips
    NULLs; min_by's struct order ranks them first — semantics differ).

    The probe costs one extra narrow scan per call; the win is
    HashAggregate instead of SortAggregate (no map-side or reduce-side
    sort at any scale) and an 8-byte order key through the exchange.
    Callers for whom the probe would re-run a join can pass the raw
    ``bounds_probe`` superset instead.
    """
    from pyspark.sql import types as T

    if len(order_cols) != 2:
        return None
    if not all(isinstance(c, str) for c in order_cols):
        return None
    key_names = [k for k in keys if isinstance(k, str)]
    if len(key_names) != len(keys):
        return None
    if set(df.columns) != set(key_names) | set(order_cols) or len(df.columns) != len(
        key_names
    ) + len(order_cols):
        return None
    a, b = order_cols
    ta, tb = df.schema[a].dataType, df.schema[b].dataType
    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(ta, _INTEGRAL):
        return None
    b_is_double = isinstance(tb, T.DoubleType)
    if not (isinstance(tb, _INTEGRAL) or b_is_double):
        return None

    probe = bounds_probe if bounds_probe is not None else df
    if a not in probe.columns or b not in probe.columns:
        return None
    # try_cast, not cast: under ANSI a NaN/Inf/out-of-range double would
    # THROW at probe time; try_cast yields NULL, which the round-trip
    # predicate classifies as bad and the null counts reject
    bl = F.col(b).try_cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.count(a).alias("na"),
        F.count(b).alias("nb"),
        F.min(a).alias("amin"),
        F.max(a).alias("amax"),
        F.min(bl).alias("bmin"),
        F.max(bl).alias("bmax"),
    ]
    if b_is_double:
        # exact long round-trip (rejects fractional, NaN, +-Inf and
        # anything outside long range in one predicate: the cast of such
        # values either differs or NULLs under try semantics) and -0.0
        # (decodes +0.0 — equal under Spark ordering, different bytes).
        # The -0.0 probe is a string cast, not 1/b < 0: ANSI mode raises
        # DIVIDE_BY_ZERO even for double division.
        bad = (
            bl.isNull()
            | (bl.cast("double") != F.col(b))
            | (F.col(b).cast("string") == "-0.0")
        )
        aggs.append(F.max(F.when(F.col(b).isNotNull() & bad, 1).otherwise(0)).alias("bbad"))
    st = probe.select(a, b).agg(*aggs).first()
    if st["n"] == 0:
        return None  # empty input: struct path returns the same empty frame
    if st["na"] != st["n"] or st["nb"] != st["n"]:
        return None
    if b_is_double and st["bbad"] == 1:
        return None
    if st["amin"] is None or st["bmin"] is None:
        return None
    a_range = int(st["amax"]) - int(st["amin"])
    b_range = int(st["bmax"]) - int(st["bmin"])
    k = max(1, b_range.bit_length())
    # k <= 62, not 63: even with a_range == 0 a 63-bit b split would
    # need the literal 2^63, which overflows a Spark long
    if k > 62 or a_range.bit_length() > 63 - k:
        return None
    amin, bmin = int(st["amin"]), int(st["bmin"])
    packed = (F.col(a).cast("long") - F.lit(amin)) * F.lit(1 << k) + (
        bl - F.lit(bmin)
    )
    agg = df.groupBy(*keys).agg(F.min(packed).alias("__p"))
    dec_a = (F.shiftright(F.col("__p"), k) + F.lit(amin)).cast(ta).alias(a)
    dec_b_long = F.col("__p").bitwiseAND(F.lit((1 << k) - 1)) + F.lit(bmin)
    dec_b = dec_b_long.cast(tb).alias(b)
    out = []
    for c in df.columns:
        if c == a:
            out.append(dec_a)
        elif c == b:
            out.append(dec_b)
        else:
            out.append(F.col(c))
    return agg.select(*out)


def first_wins_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    packed_order: bool = False,
    bounds_probe: DataFrame | None = None,
) -> DataFrame:
    """Keep the first row per key under an explicit total order.

    Replicates the reference's ``updatedInventoryIds`` Set semantics
    (makeRouter.js:86,99-101): array position decides the winner, so callers
    must carry a line-number column (``posexplode``) into ``order_cols``.
    Execution: :func:`keep_min_by` (map-side-combining aggregate);
    ``packed_order``/``bounds_probe`` pass through to its bounds-checked
    hash-aggregable fast path.

    ``bounds_probe`` MUST be a value SUPERSET of ``df`` on the order
    columns: every ``order_cols`` value of ``df`` must lie within the
    probe's min/max. The packed path reads its bounds from the probe
    instead of ``df`` and does not re-check ``df`` against them, so a
    probe that is not a superset can elect wrong winners in silence (or
    raise an ANSI overflow). A frame that ``df`` only filters or joins
    (e.g. the raw table feeding a join) qualifies; a sample of it, or a
    copy whose order values were rewritten, does not.
    """
    return keep_min_by(
        df, key_cols, order_cols, packed_order=packed_order, bounds_probe=bounds_probe
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate removal: keep the smallest id per identical text.

    :func:`keep_min_by` keyed on ``sha2(text)`` (bounds the shuffle-key
    width; semantics identical for exact dedup), winner = smallest id.
    """
    return keep_min_by(
        df, [F.sha2(F.col(text_col), 256).alias("__fp")], [id_col]
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-global paragraph-level exact dedup (C4-style): keep only the
    FIRST occurrence (by ``(id, position)`` reading order) of every
    distinct paragraph across the whole corpus, then reassemble each
    document from its surviving paragraphs in original order.

    The granularity ladder: whole-document (:func:`exact_dedup`) misses
    boilerplate embedded in otherwise-unique pages; per-document line
    cleaning (``functions.text.clean_lines``) cannot see repeats ACROSS
    documents. Paragraph-global dedup is the C4 recipe for both — a
    navigation block or license footer pasted into millions of pages
    survives exactly once, corpus-wide.

    Execution shape (round 12 — the d2 fingerprint treatment; the
    pre-r12 form carried paragraph TEXT through both of its shuffles and
    was the family's steepest sf0.1→sf1.0 scaler at 4.8× for 10× data):

      1. ONE id-keyed ``_spread`` exchange of ``(id, text)``, read by
         BOTH downstream branches — Spark's exchange reuse materializes
         it once, so the source scans once and document text crosses
         the wire exactly once, keyed by the UNIQUE doc id (perfectly
         spread — a hot paragraph cannot skew it). This exchange is
         also what keeps the reassembly map parallel: without it, AQE
         broadcasts the tiny position-list side of step 4's join and
         the reassembly inherits the raw scan layout — ONE task on a
         single-row-group corpus file (measured at sf1.0; the numbers
         are in the ``_spread`` comment in the body);
      2. ``split`` + ``posexplode`` → hash each non-blank paragraph to a
         128-bit ``md5`` fingerprint and DROP the text (map-only), then
         :func:`keep_min_by` keyed on the fingerprint — winner is the
         ``(id, pos)``-minimal occurrence. No paragraph-granularity
         exchange ever carries anything wider than ``(16 B hash, id,
         pos)``, and the aggregate partially combines before the
         exchange, so a boilerplate paragraph repeated across millions
         of documents collapses to ~one fixed-width candidate row PER
         MAP PARTITION pre-shuffle: hot-paragraph skew (the norm in web
         data — empty footers, cookie banners) never concentrates bytes
         OR rows on a reducer (the pre-r12 shape shuffled paragraph
         text twice — inside the min_by struct and again for
         reassembly);
      3. ``groupBy(id)`` → sorted array of surviving positions per doc
         (ascending = original reading order; a tiny ``(id, pos-list)``
         frame, emitted already partitioned on the id);
      4. inner join of the spread source with the position lists
         (id-aligned on both sides), then map-side reassembly: re-split
         the original text and index it by the surviving positions. The
         re-split is :func:`..functions.expr.let`-bound so it runs once
         per row, not once per surviving paragraph (plan-pinned:
         ``tests/test_text_ops.py``
         ``test_paragraph_dedup_reassembly_split_stays_let_bound``).

    Deterministic under any partitioning: the winner is a global min over
    the ``(id, pos)`` total order. ``id_col`` must uniquely identify rows
    (same contract the doc-id join implies everywhere else in the
    engine), and rows with a NULL id are dropped — a NULL id identifies
    nothing, the id-keyed join cannot carry it, and the pre-r12 shape's
    behavior for it (NULL-keyed min_by ordering) was never defined.
    DUPLICATE ids are a SILENT-corruption mode, not a loud one (advice,
    round 12): each duplicate source row inner-joins the one position
    list merged across ALL rows sharing the id, ``F.get`` returns NULL
    for positions past that row's own paragraph count, and ``concat_ws``
    silently drops the NULLs — so both rows come back, each rebuilt from
    the union of survivors that happen to be in range for its text, and
    the output row count exceeds the distinct-document count. This is
    not validated here because detection costs a full extra aggregation
    on every call for a contract the id-join convention already states
    engine-wide; callers who cannot vouch for uniqueness should gate on
    ``exact_dedup``/``keep_min_by`` over the id first (one shuffle, and
    it makes the choice of surviving row explicit instead of arbitrary). Output: ``(id, text, n_paras)`` — one row per document that
    retains at least one paragraph; ``n_paras`` is the
    surviving-paragraph count (LONG). ``sep`` is a LITERAL string on
    both sides — quoted with ``\\Q…\\E`` for the regex-based split and
    reused verbatim in the reassembly join, so a separator containing
    regex metacharacters (``|``, ``.``) splits and rejoins consistently.
    (Separators containing the two-character sequence ``\\E`` would break
    the quoting and are rejected.)
    """
    if "\\E" in sep:
        raise ValueError(r"paragraph_dedup: sep must not contain \E")
    if not sep:
        # an empty separator makes split() explode every CHARACTER: the
        # op silently becomes corpus-global character dedup (any doc
        # whose alphabet was seen before vanishes). Refuse loudly —
        # r12 boundary review, the silently-wrong-empty class.
        raise ValueError("paragraph_dedup: sep must be non-empty")
    if id_col == text_col:
        raise ValueError("paragraph_dedup: id_col and text_col must differ")
    # NULL ids drop HERE, before fingerprinting — left to the join's
    # implicit isnotnull they would still WIN first-occurrence claims
    # (NULLs sort first in the min_by struct order) and then vanish,
    # silently deleting their paragraphs from every later document.
    #
    # _spread BEFORE both branches (r12 full-eval A/B): the fingerprint
    # branch and the reassembly branch read the SAME id-keyed exchange,
    # and Spark's exchange reuse materializes it once — one source
    # scan, document text over the wire exactly once, and BOTH
    # expensive maps (posexplode+md5, re-split+concat reassembly)
    # parallel. Without it, AQE broadcasts the tiny keep side and the
    # reassembly silently inherits the scan layout — ONE task on a
    # single-row-group corpus file (measured: 3.09 vs old 1.88 s
    # full-eval at sf1.0; the shared-spread shape reads 1.89 vs old
    # 2.39 interleaved). Fixture-scale cost: +0.35 s of fixed exchange
    # overhead at sf0.1 (0.506 -> 0.851 s full-eval).
    src = _spread(
        df.select(id_col, text_col).filter(F.col(id_col).isNotNull()), id_col
    )
    split_expr = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    keys = (
        src.select(id_col, F.posexplode(split_expr).alias("pos", "para"))
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .select(id_col, "pos", F.md5(F.col("para")).alias("__ph"))
    )
    winners = keep_min_by(keys, ["__ph"], [id_col, "pos"])
    keep = winners.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__keep")
    )
    return src.join(keep, id_col, "inner").select(
        id_col,
        let(
            split_expr,
            lambda arr: F.concat_ws(
                sep, F.transform(F.col("__keep"), lambda p: F.get(arr, p))
            ),
        ).alias(text_col),
        F.size("__keep").cast("long").alias("n_paras"),
    )


def _minhash_cols(
    shingle: Column, num_hashes: int, hash_family: str = "xxhash64"
) -> list[Column]:
    # Seeded hash family over (seed-tag || shingle), JVM-side either way:
    #   * "xxhash64" (default): fastest, codegen'd — but DuckDB has no
    #     xxhash64, so pipelines built on it get rows-only driver checks;
    #   * "md5": first 15 hex chars (60 bits) parsed base-16 — ~2× slower
    #     per shingle, but byte-identical in DuckDB
    #     (CAST('0x'||substring(md5(x),1,15) AS BIGINT)), which lets the
    #     ENTIRE LSH banding pipeline be oracle-checked (d3b).
    if hash_family == "md5":
        return [
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"mh{i}|"), shingle)), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias(f"h{i}")
            for i in range(num_hashes)
        ]
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family: {hash_family}")
    return [
        F.xxhash64(F.concat(F.lit(f"mh{i}|"), shingle)).alias(f"h{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature as ``array<long>`` of length num_hashes.

    explode(distinct shingles) → 32 codegen'd ``xxhash64`` columns → per-doc
    ``min`` aggregates. The input is ``_spread`` on the doc id first, so the
    hash stage parallelizes and the groupBy's map-side combine reduces each
    partition to one row per doc — the shuffle moves ~|docs| rows, not
    |shingles|. (A per-doc HOF fold would avoid even that, but Spark
    higher-order functions are interpreted (CodegenFallback) and
    CollapseProject inlines the shingle expression into every hash — 10×
    slower in practice than the codegen'd explode path.)
    Documents with no tokens get no signature (dropped; they cannot be
    near-duplicates of anything).
    """
    if num_hashes < 1:
        # an empty signature array would band into zero buckets and make
        # every downstream LSH pass silently empty (review, round 8)
        raise ValueError(
            f"minhash_signatures: num_hashes must be >= 1, got {num_hashes!r}"
        )
    sh = _spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("__sh"),
    )
    hashed = sh.select(
        id_col, *_minhash_cols(F.col("__sh"), num_hashes, hash_family)
    )
    return hashed.groupBy(id_col).agg(
        F.array(*[F.min(f"h{i}") for i in range(num_hashes)]).alias("minhash")
    )


def _check_unit_threshold(value: float, fn: str) -> None:
    """Refuse similarity thresholds > 1 (review, round 11).

    Jaccard/estimated-Jaccard live in [0, 1] and cosine in [-1, 1] (our
    cosine is NULL for anything non-finite), so ``score >= threshold``
    with threshold > 1 is PROVABLY empty — the classic unit mistake is
    passing a percentage (``threshold=95`` for "95%"), which silently
    returns zero pairs and reads as "no near-dups found". Thresholds at
    or below the lower bound merely accept every candidate pair — a
    visible (quadratic) choice, not a silent one — and stay allowed."""
    if value > 1:
        raise ValueError(
            f"{fn}: threshold must be <= 1 (similarity scores live in "
            f"[-1, 1]), got {value!r} — did you pass a percentage? "
            f"Use {value!r}/100"
        )


def _drop_hot_buckets(
    exploded: DataFrame, bucket_cols: list[str], max_bucket_df: int
) -> DataFrame:
    """Exclude rows whose bucket holds more than ``max_bucket_df`` members.

    The 100 TB safety valve shared by the whole LSH family (same contract as
    ``ngram_jaccard_pairs``'s ``max_df``): a bucket holding d near-identical
    documents emits C(d,2) candidate pairs *before* any re-check filter —
    quadratic in d, and templated near-identical text makes huge d the
    common case in web-scale LLM corpora. AQE skew handling cannot help
    here: it splits oversized shuffle *partitions*, it cannot reduce the
    inherent pair count of a bucket. Dropping whole hot buckets can only
    remove candidate pairs, never add them, so capped output is always a
    subset of the uncapped output. The hot-bucket list is tiny in the
    realistic (zipfian) case — each entry represents > max_bucket_df rows —
    and AQE converts the anti-join to a broadcast at runtime from its
    *measured* size; the hint is deliberately left to AQE rather than
    forced with ``F.broadcast``: in the adversarial all-duplicates corpus
    every bucket is hot, the list is O(|buckets|), and a forced broadcast
    would OOM the driver exactly when the valve matters most.
    """
    hot = (
        exploded.groupBy(*bucket_cols)
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_bucket_df)
        .select(*bucket_cols)
    )
    return exploded.join(hot, bucket_cols, "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_df: int | None = None,
    signatures: DataFrame | None = None,
    eager: bool = True,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding over MinHash signatures.

    ``hash_family`` selects the seeded hash (see :func:`_minhash_cols`):
    "xxhash64" (default, fastest) or "md5" (DuckDB-twinnable — band
    hashes become md5 hex strings so the whole pipeline is
    oracle-checkable, corpus d3b).

    signature → ``bands`` band-hashes → explode → self-join on
    (band index, band hash) → distinct pairs → estimated Jaccard = fraction
    of agreeing minhash positions; keep pairs >= threshold.

    Shuffle profile: one groupBy for signatures, one self-join keyed on the
    band hash. The band join carries **ids only** — the 32-long signature
    arrays are re-attached per distinct pair afterwards by two id-keyed
    joins, so the exploded band rows stay ~24 bytes wide instead of
    dragging two 256-byte arrays through the widest shuffle.

    The signature table is **materialized once** (``persist``, memory-and-
    disk): Spark has no DAG sharing without materialization, so the four
    lazy references (two band sides, two re-attach sides) would otherwise
    each recompute the full scan + 32-hash + groupBy subtree — measured
    slower than simply shipping the arrays through the band join. The
    persist's LIFETIME is scoped to this call: the (tiny) pair result is
    eagerly cut (:func:`..checkpointing.eager_cut`) and the signature cache
    dropped before returning, so repeated calls over distinct inputs do
    NOT accumulate executor cache for the rest of the session (the
    CacheManager holds plan-keyed entries until unpersist; a long-lived
    multi-tenant session would otherwise leak one signature table per
    distinct input). The cost is eager evaluation at call time — this is
    a terminal pipeline product, not a composable lazy intermediate. At
    100 TB, pass ``signatures=`` instead: write
    :func:`minhash_signatures` output to a parquet signature table once
    and feed it to any number of banding configurations (that path stays
    fully lazy and persists nothing).

    ``max_bucket_df`` caps band-bucket membership (see
    :func:`_drop_hot_buckets`): a bucket of d near-identical docs otherwise
    emits C(d,2) pairs regardless of AQE. Capped output ⊆ uncapped output;
    ``None`` (default) keeps exact LSH behavior. Dropping a bucket only
    loses *candidates*; every surviving pair's est_jaccard is unchanged
    because the estimate is computed from the full signatures, not from the
    buckets. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    # round-10 review: bands outside [1, num_hashes] makes rows_per_band
    # 0 (every band hash = hash("") → ONE universal bucket: all-pairs
    # candidate blowup, or — with max_bucket_df set — the valve drops the
    # single bucket and the result is silently EMPTY) or divides by zero;
    # a non-divisor silently IGNORES the signature tail (num_hashes=32,
    # bands=5 → positions 31-32 never banded: quiet recall drift from the
    # documented bands x rows contract).
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"minhash_lsh_pairs: bands must be in [1, num_hashes], got "
            f"bands={bands!r} with num_hashes={num_hashes!r}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash_lsh_pairs: bands ({bands!r}) must divide num_hashes "
            f"({num_hashes!r}) — a remainder silently drops the signature "
            "tail from every band"
        )
    _check_unit_threshold(threshold, "minhash_lsh_pairs")
    rows_per_band = num_hashes // bands
    owns_cache = signatures is None and eager
    if signatures is not None:
        sig = signatures
    elif eager:
        sig = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_n, hash_family
        ).persist()
    else:
        # eager=False: fully-lazy plan for inspection/composition — no
        # persist, no checkpoint; the signature subtree is re-derived per
        # consumer (4×), so use only for .explain or when the caller
        # materializes through its own signatures= table.
        sig = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_n, hash_family
        )

    def _band_hash(i: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[
                F.element_at("minhash", i * rows_per_band + j + 1).cast("string")
                for j in range(rows_per_band)
            ],
        )
        # md5 family keeps the band key cross-engine too (hex string);
        # the band join works identically on string keys
        return F.md5(joined) if hash_family == "md5" else F.xxhash64(joined)

    band_arr = F.array(*[_band_hash(i) for i in range(bands)])
    banded = sig.select(
        F.col(id_col).alias("__id"),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    )
    if max_bucket_df is not None:
        banded = _drop_hot_buckets(banded, ["band_idx", "band_hash"], max_bucket_df)
    left = banded.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    rescored = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda a, b: a == b), lambda x: x)
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    out = (
        rescored.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    if owns_cache:
        # materialize the (tiny) pair result, then release the signature
        # cache — lifetime of the intermediate == lifetime of this call.
        # The checkpointed blocks belong to the RESULT; local ones are
        # reclaimed by the ContextCleaner when the returned frame is
        # dropped. On a real cluster prefer the signatures= parquet-table
        # path.
        out = eager_cut(out)
        sig.unpersist()
    return out


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash per document over whitespace tokens — 64-bit with the
    default xxhash64 family, 60-bit with ``hash_family="md5"`` (the
    DuckDB-twinnable family of :func:`_minhash_cols`; d4b uses it to put
    the whole simhash path under the oracle's value-hash gate).

    Classic construction: hash each token; for each bit position sum
    +1/-1 across tokens; the sign vector is the fingerprint. Entirely
    JVM-side: ``_spread`` on the doc id → explode → per-bit conditional-
    sum aggregates (map-side combined; the shuffle moves ~|docs| rows) →
    bit-pack. Returns (id_col, simhash: long).
    """
    n_bits = _SIMHASH_BITS[hash_family]
    tok = _spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("__t"))
    bit_sums = [
        F.sum(
            F.when(h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    packed = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return sums.select(F.col(id_col), packed.alias("simhash"))


# fingerprint width per hash family: xxhash64 gives 64 usable bits; the
# md5 family parses 15 hex chars -> 60 bits (a signed-long-safe width)
_SIMHASH_BITS = {"xxhash64": 64, "md5": 60}


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    max_bucket_df: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: split the fingerprint into 4 equal chunks (16 bits with the
    64-bit xxhash64 family, 15 with the 60-bit md5 family) — any pair
    within Hamming distance <= 3 shares at least one exact chunk (pigeonhole);
    for larger radii this is a recall-bounded heuristic that keeps the join
    keyed instead of all-pairs.

    ``max_bucket_df`` caps chunk-bucket membership (see
    :func:`_drop_hot_buckets`): a chunk shared by d near-identical docs
    otherwise emits C(d,2) candidates, and AQE cannot shrink that pair
    count. Capped ⊆ uncapped; ``None`` (default) = exact blocking. The
    8-byte fingerprints ride the join (trivial width — unlike the minhash
    arrays there is nothing to save by re-attaching). Returns
    (id_a, id_b, hamming).
    """
    if max_hamming < 0:
        # the multiprobe_hamming class (round 10): a negative radius
        # matches NO pair — silently empty, not a tighter threshold
        raise ValueError(
            f"simhash_near_dup_pairs: max_hamming must be >= 0, got "
            f"{max_hamming!r}"
        )
    sig = simhash64(df, id_col, text_col, hash_family)
    chunk_bits = _SIMHASH_BITS[hash_family] // 4
    chunk_mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), i * chunk_bits).bitwiseAND(
                F.lit(chunk_mask).cast("long")
            )
            for i in range(4)
        ]
    )
    blocked = sig.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    if max_bucket_df is not None:
        blocked = _drop_hot_buckets(blocked, ["chunk_idx", "chunk"], max_bucket_df)
    left = blocked.select(F.col("__id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk")
    right = blocked.select(F.col("__id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk")
    pairs = (
        left.join(right, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Set-oriented (no all-pairs cross join): build a shingle **inverted
    index** (groupBy shingle → sorted posting list of doc ids), generate the
    C(df,2) ordered pairs per posting list with chained codegen'd
    generators, and count pair occurrences — that count is exactly |A ∩ B|.
    Join back per-doc set sizes; Jaccard = inter / (|A| + |B| - inter).

    Versus a shingle self-join this saves one wide shuffle (the index is one
    groupBy; the join shuffles the 260k-row shingle table twice), and the
    intermediate is exactly Σ C(df,2) pairs rather than the join's Σ df²
    rows.

    ``max_df`` is the 100 TB safety valve: shingles appearing in more than
    ``max_df`` documents (stop-phrases — one hot shingle otherwise
    contributes C(df,2) pairs, quadratic in its document frequency) are
    excluded from pair generation *before* the posting lists are built: the
    hot-shingle set is tiny in the realistic zipfian case, so AQE converts
    the anti-join to a runtime broadcast from its measured size (not
    hint-forced — an adversarial all-stop-phrase corpus makes the hot set
    O(|distinct shingles|) and a forced broadcast would OOM the driver),
    and the anti-join drops hot rows ahead of ``collect_list`` — no giant
    list ever materializes. Dropping a shingle can only shrink the measured
    intersection, never grow it, so capped output is always a **subset** of
    the exact output (pairs may fall below threshold or vanish; none are
    added) — exact for every pair whose shared shingles are all rarer than
    the cap. Default ``None`` = exact; per-doc set sizes are computed
    before the cap either way, so |A|/|B| stay exact.

    ``materialize=True`` (default) eagerly cuts the
    shingled projection — the bm25-class fold, round 9: the tokenize +
    shingle HOF subtree otherwise runs THREE times (once exploded for
    the posting lists, and the map-only ``sizes`` lineage once per
    id_a/id_b join; no exchange exists for ReuseExchange to dedupe).
    Measured same-session A/B: 5.44 → 3.82 s at sf1.0 (−30%, output
    identical), flat at sf0.1. The storage trade is
    the dec1-documented recipe — the projection is ~the tokenized corpus
    — so ``False`` keeps the fully-lazy recompute plan when executor
    storage is tighter than compute.

    The cut follows the session's policy
    (:func:`..checkpointing.eager_cut`): reliable ``DataFrame.checkpoint``
    when the session has a checkpoint dir (set ``spark.checkpoint.dir``
    on a cluster), else executor-resident ``localCheckpoint``, which a
    lost executor takes down with it. ``materialize=False`` keeps
    recompute-on-loss lineage instead.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    _check_unit_threshold(threshold, "ngram_jaccard_pairs")
    spread = _spread(df, id_col)
    proj = spread.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__arr"),
    )
    if materialize:
        proj = eager_cut(proj)
    return ngram_jaccard_pairs_from_projection(proj, threshold, max_df)


def ngram_jaccard_pairs_from_projection(
    proj: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """The inverted-index pair-generation tail of
    :func:`ngram_jaccard_pairs`, over an already-built shingle
    projection ``(__id, __arr)`` where ``__arr`` is the DISTINCT
    shingle array per doc (extracted r20 so a pipeline that already
    materializes a wider per-doc projection — the curation builders'
    fused base carrying (id, lang, token_count, shingles) in ONE
    checkpoint — can feed pair generation without a second projection
    pass or a second cut; semantics and shuffle shape are byte-
    identical to the tail this was cut from). The caller owns the
    projection's materialization; everything here is lazy."""
    _check_unit_threshold(threshold, "ngram_jaccard_pairs_from_projection")
    sh = proj.select("__id", F.explode("__arr").alias("__sh"))
    # per-doc set size is a map-only expression over the un-exploded array —
    # no groupBy shuffle and no second pass over the exploded shingle table
    # (it used to be sh.groupBy(__id).count(): one extra shuffle keyed on the
    # doc id plus a full recompute of the explode subtree, at every scale)
    sizes = proj.select("__id", F.size("__arr").alias("__n"))
    pair_src = sh
    if max_df is not None:
        hot = (
            sh.groupBy("__sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__sh")
        )
        pair_src = sh.join(hot, "__sh", "left_anti")
    postings = (
        pair_src.groupBy("__sh")
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    # ordered pairs per posting list via chained generators: posexplode
    # each list element x (0-based index __ia), then explode the tail
    # slice after it (1-based start __ia + 2) — every (x, later y) pair
    # exactly once. Both generators and the slice are whole-stage-codegen'd;
    # the previous nested transform/slice HOF build was CodegenFallback
    # (interpreted) — measured 10% slower steady-state at sf0.1 and the
    # prime suspect in an 18 s cold-run outlier (see SCALE.md 'Dedup').
    e1 = postings.select("__ids", F.posexplode("__ids").alias("__ia", "id_a"))
    pairs = e1.select(
        "id_a",
        F.explode(
            F.slice(F.col("__ids"), F.col("__ia") + F.lit(2), F.size("__ids"))
        ).alias("id_b"),
    )
    inter = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("__inter"))
    joined = (
        inter.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
    )
    jac = F.col("__inter").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__inter")
    ).cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def editdist_rerank(
    docs: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Edit-distance re-ranking of a candidate pair frame — the precision
    pass a curation pipeline runs on the (tiny) candidate set, never on
    the corpus.

    ``pairs`` is ANY (id_a, id_b) candidate source — exact n-gram Jaccard,
    capped d2b, MinHash-LSH or SimHash output — so the expensive O(len²)
    Levenshtein runs on |pairs| rows only; the texts are re-attached by
    two narrow id-keyed joins (the candidate frame never carries text
    through its own shuffles). Returns (id_a, id_b, edit_dist).
    """
    ta = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    return (
        pairs.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").cast("int").alias("edit_dist"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= threshold).

    Brute-force O(n²) variant — the oracle/recall baseline ONLY. The
    production path is :func:`embedding_near_dup_pairs_lsh` (hyperplane
    blocking keeps the join keyed instead of all-pairs); this one exists so
    the approximate operator has an exact, DuckDB-checkable twin to be
    measured against. Returns (id_a, id_b, cosine).
    """
    _check_unit_threshold(threshold, "embedding_near_dup_pairs")
    from ..functions.vectors import cosine_similarity

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("__va"), F.col("__vb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    dim: int | None = None,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH blocking — the
    production (100 TB) path; :func:`embedding_near_dup_pairs` is its exact
    recall baseline.

    Plan shape (vs the baseline's BroadcastNestedLoopJoin over all pairs):
      1. map-only: bucket every vector by the sign bits of ``n_planes``
         seeded hyperplane projections (same deterministic family as
         ``operators.similarity.lsh_bucket_topk``);
      2. multiprobe: the probe side additionally emits every bucket within
         ``multiprobe_hamming`` bit-flips (0 or 1 supported — 1 emits
         ``n_planes + 1`` keys/row), so pairs whose buckets differ by one
         bit still collide; the anchor side stays un-expanded, and either
         orientation of a qualifying pair produces the collision;
      3. one equi-join keyed on the bucket, carrying **(id, bucket) only**
         — never all-pairs, and the vectors do not ride the multiprobe
         explosion (a 64-float vector duplicated n_planes+1 times per row
         would dominate the shuffle); they are re-attached per distinct
         candidate pair by two narrow id-keyed joins;
      4. exact cosine re-check on the surviving candidates (no estimated
         scores leave this function; precision is exact, recall is the LSH
         tradeoff, bounded in tests/test_similarity_dedup.py).

    ``max_bucket_df`` caps bucket membership (see :func:`_drop_hot_buckets`)
    — a bucket of d near-identical embeddings otherwise yields C(d,2)
    candidates, and AQE (which splits shuffle partitions, not pair counts)
    cannot reduce that. Capped ⊆ uncapped; ``None`` = exact blocking.

    Pass ``dim`` when the caller knows the embedding width (schemas with
    fixed-size vectors always do): with it the function is fully lazy — no
    Spark job runs at DataFrame-construction time. ``dim=None`` falls back
    to a one-row probe of the data (eager, discouraged on hot paths).
    Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    if multiprobe_hamming not in (0, 1):
        raise ValueError("multiprobe_hamming supports 0 or 1 bit-flips")
    _check_unit_threshold(threshold, "embedding_near_dup_pairs_lsh")
    from ..functions.vectors import cosine_similarity
    from .similarity import _hyperplanes, hyperplane_bucket

    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, cosine double"
            )
        dim = first["n"]
    planes = _hyperplanes(dim, n_planes, seed)
    bucketed = _spread(df, id_col).select(
        F.col(id_col).alias("__id"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    if max_bucket_df is not None:
        bucketed = _drop_hot_buckets(bucketed, ["__bucket"], max_bucket_df)
    probe_keys = [F.col("__bucket")]
    if multiprobe_hamming == 1:
        probe_keys += [
            F.col("__bucket").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i))
            for i in range(n_planes)
        ]
    probes = bucketed.select(
        F.col("__id").alias("id_a"),
        F.explode(F.array(*probe_keys)).alias("__pb"),
    )
    anchors = bucketed.select(
        F.col("__id").alias("id_b"),
        F.col("__bucket").alias("__pb"),
    )
    # either orientation of a qualifying pair produces a collision, so
    # canonicalizing ids (least/greatest) before the distinct loses nothing
    cand = (
        probes.join(anchors, "__pb")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vec_a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vec_b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    rechecked = cand.join(vec_a, "id_a").join(vec_b, "id_b")
    cos = cosine_similarity(F.col("__va"), F.col("__vb"))
    return (
        rechecked.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def duplicated_span_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN report — the detection half of exact-substring
    deduplication (the public "Deduplicating Training Data Makes Language
    Models Better" recipe, re-expressed set-oriented: that work builds a
    suffix array, which does not distribute; fixed-length token windows at
    stride 1 find every duplicated run of >= ``window`` tokens, because any
    such run contains a duplicated window).

    Per document: slide a ``window``-token span at stride 1 (map-only
    array expressions — the ch1 chunking machinery), then rank every span
    occurrence globally with a total order (span, doc id, position) — one
    shuffle keyed on the span text; occurrences ranked > 1 are duplicated
    content. Returns ``(id_col, n_spans, n_dup_spans, dup_frac)`` for docs
    with >= ``window`` tokens; ``dup_frac`` is the fraction a downstream
    gate filters/trims on (the report, not a rewrite — span-level text
    surgery needs the positions, which this frame carries implicitly).

    Scale (review round 6 — the hot-span hazard): an occurrence is
    "duplicated" iff it is not the global ``(id, pos)``-first occurrence
    of its span. The naive form — a ``row_number`` window partitioned by
    span — puts EVERY occurrence of a celebrity span (boilerplate
    repeated in millions of docs) on one reducer with no partial
    aggregation (and AQE skew-split does not apply to window
    partitions). Instead, two combine-friendly levels:

      1. ``groupBy(span, id)`` → per-doc occurrence count + min position
         (map-side combined; a hot span's rows are spread across its
         docs, and within-one-doc repetition is bounded by doc length);
      2. :func:`keep_min_by` on the span picks the global first
         occurrence per span — map-side combined again, so even the
         celebrity span's (span, doc) rows collapse to ~one candidate
         per map partition before the exchange;
      3. the dup arithmetic needs NO span-keyed redistribution at all:
         per doc, ``n_dup = n_spans − n_wins`` — total spans from a
         MAP-ONLY ``size(spans)`` projection, wins by counting the
         winner rows per doc (doc-keyed aggregate of the already-small
         winner set). No window over the span, no span join — the two
         shapes that would re-concentrate a celebrity span's rows on one
         task (windows get no partial aggregation and no AQE skew
         split; a span-keyed sort-merge join routes every matching row
         to one partition).

    The only wide keys are the span text (exact, SQL-twinnable); at
    100 TB key on ``xxhash64(span)`` instead — 8-byte keys, identical
    report modulo 2^-64 collisions. The C(d,2)-style blowup of pair
    approaches cannot occur at all — no stage ever holds more than one
    row per (span, doc).
    """
    if window < 1:
        # the shingles-n=0 class (round 10): window=0 makes every span
        # the empty string — every position in every doc "duplicates"
        # every other, dup_frac ~1.0 corpus-wide, silently wrong
        raise ValueError(
            f"duplicated_span_report: window must be >= 1, got {window!r}"
        )
    def _spans(toks: Column) -> Column:
        # toks is let-bound (round 11, functions/expr.py): the free
        # capture inside the per-span transform lambda used to re-run
        # the tokenization once PER SPAN per row — the shingles disease
        n_ = F.size(toks)
        # sequence(a, b) DECREASES when a > b — guard short docs to an
        # empty span list instead of a backwards sequence
        starts = F.when(
            n_ >= window, F.sequence(F.lit(1), n_ - window + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(toks, i, window))
        )

    # the totals leg's span count is arithmetic on the token count; the
    # two references to n are let-bound to one tokenization as well
    n = let(
        F.size(tokens(F.col(text_col))),
        lambda k: F.when(k >= window, k - window + 1).otherwise(F.lit(0)),
    )
    spans = let(tokens(F.col(text_col)), _spans)
    spread = _spread(docs, id_col)
    occ = spread.select(
        F.col(id_col), F.posexplode(spans).alias("__pos", "__span")
    )
    lvl1 = occ.groupBy("__span", id_col).agg(
        F.min("__pos").alias("__minpos")
    )
    winners = keep_min_by(lvl1, [F.col("__span")], [id_col, "__minpos"])
    wins = winners.groupBy(id_col).agg(F.count(F.lit(1)).alias("__w"))
    # n_spans is ARITHMETIC on the token count — never rebuild the span
    # strings to count them (the string construction is the expensive
    # map work; rebuilding it for the totals leg measured 4.2 s vs 0.7).
    # Directly off `docs`, NOT `spread`: the totals leg needs no
    # repartition — a _spread here re-shuffles the full corpus text a
    # second time just to size token arrays, and the id-keyed join below
    # inserts its own (id, n)-rows-only exchange anyway (review).
    totals = docs.select(
        F.col(id_col),
        n.cast("long").alias("n_spans"),
    ).filter(F.col("n_spans") > 0)
    return (
        totals.join(wins, id_col, "left")
        .select(
            F.col(id_col),
            "n_spans",
            (F.col("n_spans") - F.coalesce(F.col("__w"), F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .select(
            F.col(id_col),
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_frac"),
        )
    )
