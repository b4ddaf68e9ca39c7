"""Oracle-checked query corpus — the driver contract surface.

Each entry: a named PySpark query (callable ``(spark, sf_dir) -> DataFrame``)
plus, where SQL-expressible, a DuckDB ANSI-SQL twin run over the same parquet
tables. Names key into SURVEY.md §2 operator ids so coverage is auditable.

Hash-stability rules (the driver compares row-count + schema + order-
insensitive value hash):
  * money/double aggregates: cast to DECIMAL before SUM (exact, order-
    independent), cast the result back to DOUBLE — identical bytes on both
    engines;
  * timestamps in output: cast to string (sidesteps tz-naive vs session-tz);
  * ratios: integer-derived double division only (exact IEEE, same operands
    -> same bits);
  * window orders: always totally ordered (explicit tie-break columns).

Hostile-input contracts (round 14 — each asserted by
tools/adversarial_sim.py on NULL-bearing variants of every table, and
by the convention batteries in tests/test_blindspot_sweep.py):
  * tokenize: empty fragments removed after the split; NULL text -> [];
    fingerprints normalize whitespace BEFORE trimming; a no-token doc
    emits NO shingles (oracle CTEs guard ``len(t) > 0``);
  * event time: watermarks cannot admit NULL event times, so the WHOLE
    family drops them (streaming windows natively; batch sessionize and
    the st1/st5/st8/hop1/w3 oracles explicitly);
  * NULL ordering: ts/date-ordered oracle windows pin NULLS FIRST
    (Spark's asc default; DuckDB defaults NULLS LAST);
  * anti joins: oracles use NOT EXISTS, never NOT IN (one NULL key
    silently empties a NOT IN anti leg);
  * ingest: NULL body == absent body == the S3 '{}' default;
  * vectors: NULL/zero-norm/non-finite cosine is NULL (ranks last,
    never pairs); oracles guard ``embedding IS NOT NULL`` where DuckDB's
    vectorized list_inner_product would reject a NULL list loudly;
  * money folds: half-away-from-zero on BOTH signs
    (functions/money.py); NULL/NaN/Inf refused loudly (Arrow float
    transport conflates NULL and NaN — the folds are deliberately the
    loud side where SQL SUM would silently skip NULL).

Cross-batch arrival contracts (round 15 — asserted by
tools/streaming_hostile_sim.py, which replays a controlled multi-batch
arrival order through the SHIPPED st1-st8 bodies; permanent in
tests/test_streaming_hostile.py):
  * complete-mode windowed aggs (st1/st5/st8) are arrival-order
    INVARIANT: state is never evicted and late rows beyond the
    watermark still aggregate, so an availableNow replay equals the
    batch oracle in any arrival order (sessions also merge a late row
    into existing session state);
  * dropDuplicatesWithinWatermark (st2) applied exactly-once per
    event id over straddling duplicates, a unioned double, AND
    late-beyond-watermark arrivals (no input-side late filter
    observed); guaranteed only for duplicates within the watermark
    delay of each other — the registered oracle additionally assumes
    the shipped fixture's unique-id invariant (a dup-bearing fixture
    needs count(DISTINCT event_id), the sim's scenario oracle);
  * the stream-stream inner join (st4) equals the batch join under
    availableNow (state cleanup is lazy/best-effort; a late purchase
    still attributes);
  * applyInPandasWithState (st3) emits one row per (key, batch) in
    update mode; the LATEST row per key equals the batch GROUP BY,
    and NULL event-time rows flow through (no watermark applies);
  * every pipeline survives an entirely EMPTY micro-batch and an
    entirely dead-letter one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.js_compat import default_if_falsy, js_parse_int
from .functions.text import (
    LANG_STOPWORDS,
    STOPWORDS,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    word_count,
)
from .operators.dedup import (
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    first_wins_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from .operators.joins import as_of_join, bucketed_range_join
from .operators.similarity import brute_force_topk, lsh_bucket_topk
from .operators.windows import sessionize, top_k_per_group
from .plans.training_corpus import MIX_MULT, SAMP_MULT, SPLIT_MULT
from .sources.loader import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _dec_sum(col, scale: int = 2):
    """Order-independent exact sum of a double column: decimal-cast, sum,
    back to double. DuckDB twin: CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


def _duck_tokens(col: str) -> str:
    """The r14 tokenize convention's SQL twin — THE single source.

    Empty fragments filtered after the split (phantom ''-token fix),
    NULL coalesced to [] (functions/text.py tokens()). Oracle strings
    embed ``@TOKENS(col)@`` placeholders, expanded at the bottom of the
    module, so the engine convention and all ~40 oracle sites can only
    change together (r14 self-review; the mulhash placeholder pattern).
    The expansion is proven byte-identical to the pre-refactor oracles
    (sha256 over the expanded dict). The two deliberately DIFFERENT
    conventions stay inline: tc1's line-level ``trim(l)`` (no lower)
    and udtf1's case-preserving ``trim(text)``."""
    return (
        f"list_filter(regexp_split_to_array(trim(lower(coalesce({col}, ''))), "
        "'\\s+'), zz -> zz <> '')"
    )


def _duck_mulhash32(col: str, mult: int) -> str:
    """DuckDB mirror of plans.training_corpus.mulhash32 — the 16/16
    decomposition of ``(col * mult) mod 2^32`` that never overflows a
    signed 64-bit intermediate. THE single source of the SQL form: oracle
    strings embed @MULHASH_SPLIT@ / @MULHASH_MIX@ placeholders, expanded
    from this helper at the bottom of the module, so the engine
    expression and every SQL twin can only change together.

    The reduction is forced NON-NEGATIVE the same way the engine's
    ``F.pmod`` is: DuckDB's ``%`` follows the dividend's sign, so the
    bare ``col % 2^32`` of a negative id would go negative and silently
    diverge from the engine instead of erroring (advice, round 6). Ids
    in every fixture are >= 0, so the emitted value is unchanged there —
    this pins the twin to the engine's semantics for ALL inputs."""
    a = f"(({col} % 4294967296 + 4294967296) % 4294967296)"
    return (
        f"({a} // 65536 * {mult} % 65536 * 65536"
        f" + {a} % 65536 * {mult}) % 4294967296"
    )


# ---------------------------------------------------------------------------
# M1 relational core (SURVEY.md §2.2-2.5)
# ---------------------------------------------------------------------------


@_register(
    "p1_status_gate",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def p1_status_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (makeRouter.js:81): drop rows failing a status equality gate."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@_register(
    "p4_first_wins_dedup",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                ORDER BY l_linenumber, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def p4_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (makeRouter.js:86,99-101): order-sensitive first-wins dedup —
    keep_min_by's map-side-combining min_by aggregate under a TOTAL
    order, NOT dropDuplicates (SURVEY.md §7.4.3).

    The window order must be TOTAL for cross-engine determinism: the
    fixture lineitem has duplicate (orderkey, partkey, linenumber) rows, so
    l_quantity joins the order as a tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    # packed_order (r21): bounds-checked hash-aggregable fast path —
    # min(packed bigint) instead of min_by(struct) (which is always a
    # SortAggregate); identical winners by construction, validated per
    # call, falls back to the struct path on out-of-range data
    return first_wins_dedup(
        li,
        ["l_orderkey", "l_partkey"],
        ["l_linenumber", "l_quantity"],
        packed_order=True,
    )


@_register(
    "t7_js_parse_int",
    r"""
    SELECT l_returnflag,
           CAST(SUM(COALESCE(TRY_CAST(NULLIF(regexp_extract(
                 l_linenumber || l_returnflag, '^[@JS_WS@]*([+-]?\d+)', 1), '') AS BIGINT), 0)
           ) AS BIGINT) AS parsed_sum,
           CAST(SUM(CASE WHEN NULLIF(regexp_extract(
                 l_returnflag, '^[@JS_WS@]*([+-]?\d+)', 1), '') IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS nan_count
    FROM lineitem GROUP BY l_returnflag
    """,
)
def t7_js_parse_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (makeRouter.js:89 etc.): JS parseInt semantics — leading-digit
    parse of mixed strings, NaN->NULL on no digits."""
    li = load_table(spark, sf_dir, "lineitem")
    mixed = F.concat(F.col("l_linenumber").cast("string"), F.col("l_returnflag"))
    return li.groupBy("l_returnflag").agg(
        F.sum(F.coalesce(js_parse_int(mixed), F.lit(0))).alias("parsed_sum"),
        F.sum(
            F.when(js_parse_int(F.col("l_returnflag")).isNull(), 1).otherwise(0)
        ).alias("nan_count"),
    )


@_register(
    "t5_falsy_defaults",
    """
    SELECT o_orderpriority,
           CASE WHEN s IS NULL OR s = '' THEN 'DEFAULT' ELSE s END AS defaulted,
           count(*) AS n
    FROM (SELECT o_orderpriority, NULLIF(o_orderstatus, 'F') AS s FROM orders)
    GROUP BY 1, 2
    """,
)
def t5_falsy_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (makeRouter.js:63,67-72): `x || default` JS-falsiness defaulting."""
    o = load_table(spark, sf_dir, "orders")
    s = F.nullif(F.col("o_orderstatus"), F.lit("F"))
    return o.select(
        "o_orderpriority", default_if_falsy(s, "DEFAULT").alias("defaulted")
    ).groupBy("o_orderpriority", "defaulted").agg(F.count("*").alias("n"))


@_register(
    "j1_lookup_join",
    """
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
             AS revenue,
           SUM(l_quantity) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def j1_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (makeRouter.js:104): the N+1 point-lookup loop as one broadcast
    equi join (dimension side broadcast; facts never shuffle for the join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey, "inner"
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("p_brand").agg(
        _dec_sum(disc, 4).alias("revenue"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
             AS sum_disc_price,
           SUM(l_quantity) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with decimal-exact money sums.
    The filter pushes to the parquet scan; aggregation is map-side combined."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "sum_disc_price"
            ),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "a1_a2_order_counter_deltas",
    """
    WITH f AS (
      SELECT l_orderkey, l_partkey, l_quantity, l_linenumber
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ), d AS (
      SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                   ORDER BY l_linenumber, l_quantity) AS rn
      FROM f
    ), agg AS (
      SELECT l_partkey, SUM(l_quantity) AS demand, count(*) AS n_lines
      FROM d WHERE rn = 1 GROUP BY l_partkey
    )
    SELECT p_partkey AS part_key, CAST(p_size * 100 AS BIGINT) AS stock,
           demand, CAST(p_size * 100 - demand AS DOUBLE) AS new_stock, n_lines
    FROM agg JOIN part ON p_partkey = l_partkey
    """,
)
def a1_a2_order_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship §3.1 restatement (A1/A2, makeRouter.js:107-118) on TPC-H
    roles: orders⋈lineitem → first-wins dedup → demand per part → counter
    merge against synthetic stock (p_size*100)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    part = load_table(spark, sf_dir, "part")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_linenumber"
    )
    # packed_order (r21): see p4 — here the bounds probe reads the RAW
    # lineitem columns (a superset of the joined rows, so its bounds are
    # conservatively valid) instead of re-running the join
    deduped = first_wins_dedup(
        lines,
        ["l_orderkey", "l_partkey"],
        ["l_linenumber", "l_quantity"],
        packed_order=True,
        bounds_probe=li,
    )
    agg = deduped.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("demand"), F.count("*").alias("n_lines")
    )
    stock = (F.col("p_size") * 100).cast("long")
    return agg.join(F.broadcast(part), agg.l_partkey == part.p_partkey).select(
        F.col("p_partkey").alias("part_key"),
        stock.alias("stock"),
        F.col("demand"),
        (stock - F.col("demand")).cast("double").alias("new_stock"),
        F.col("n_lines"),
    )


@_register(
    "a3_insufficient_stock",
    """
    WITH agg AS (
      SELECT l_partkey, SUM(l_quantity) AS demand
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_partkey AS part_key, CAST(p_size * 10 AS BIGINT) AS stock, demand
    FROM agg JOIN part ON p_partkey = l_partkey
    WHERE demand > p_size * 10
    """,
)
def a3_insufficient_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (makeRouter.js:111-113): sufficiency-constraint violation split —
    the rejects leg of the order pipeline."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    agg = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("demand"))
    stock = (F.col("p_size") * 10).cast("long")
    return (
        agg.join(F.broadcast(part), agg.l_partkey == part.p_partkey)
        .filter(F.col("demand") > stock)
        .select(
            F.col("p_partkey").alias("part_key"), stock.alias("stock"), F.col("demand")
        )
    )


@_register(
    "a4_a6_status_transitions",
    """
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id)
               AS prev_type
      -- NULLS FIRST mirrors Spark's default NULL placement (r14)
      FROM events
    )
    SELECT prev_type, event_type AS curr_type, count(*) AS n
    FROM t WHERE prev_type IS NOT NULL AND prev_type <> event_type
    GROUP BY prev_type, curr_type
    """,
)
def a4_a6_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 restatement (P5+A4, makeRouter.js:149,178-189): derive previous
    status in-engine via lag() (SURVEY.md §2.8), drop no-ops, count stage
    transfers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        t.filter(F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type")))
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )


@_register(
    "a5_counter_pivot",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
)
def a5_counter_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A6 counter maintenance as a fixed-domain pivot (statusMap's
    status->column dictionary, makeRouter.js:165-176)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    p = ev.groupBy("user_id").pivot("event_type", types).count()
    return p.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


@_register(
    "x1_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def x1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/§2.7 JSON path: semi-structured props column parsed in-plan
    (get_json_object), aggregated exactly (ints)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# M3 windows / sort / limit / set ops / grouping sets (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


@_register(
    "w1_running_total",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           SUM(l_quantity) OVER (PARTITION BY l_suppkey
                                 -- NULLS FIRST: Spark's default asc NULL
                                 -- placement (hostile-fixture sim, r14)
                                 ORDER BY l_shipdate NULLS FIRST,
                                          l_orderkey, l_linenumber
                                 ROWS UNBOUNDED PRECEDING) AS running_qty
    FROM lineitem
    """,
)
def w1_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-frame window: running sum per supplier (l_quantity is
    integral, so double accumulation is exact in any engine)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


@_register(
    "w2_topk_per_group",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank_in_group
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS rank_in_group
      FROM lineitem
    ) WHERE rank_in_group <= 5
    """,
)
def w2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: ranking window + filter (no global sort).
    l_returnflag has 3 values — two_phase spreads the rank shuffle across
    all reducers instead of 3 single-group tasks (operators/windows.py)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    order = [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    return top_k_per_group(li, ["l_returnflag"], order, 5, two_phase=True)


@_register(
    "w3_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 3600
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      -- NULL event times are dropped by the event-time family contract
      -- (operators/windows.py sessionize, r14)
      FROM events WHERE ts IS NOT NULL
    ), s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM s GROUP BY user_id
    """,
)
def w3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (lag-gap + cumulative sum) — the batch twin of
    streaming session_window (SURVEY.md §2.8)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = sessionize(ev, ["user_id"], "ts", 3600)
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


@_register(
    "w4_tumbling_window",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def w4_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch analog of streaming
    window(); the streaming twin lives in streaming/pipelines.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n"), _dec_sum(F.col("value"), 6).alias("value_sum"))


@_register(
    "s1_set_ops",
    """
    (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def s1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT set operators."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    p = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(op).exceptAll(p.distinct())


@_register(
    "g1_rollup",
    """
    SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def g1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")
    )


@_register(
    "j2_as_of_join",
    """
    WITH views AS (
      SELECT user_id, ts, CAST(MAX(value) AS DOUBLE) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS purchase_ts, v.view_value
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def j2_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): union-and-window composition —
    each purchase picks the user's latest view at-or-before it. DuckDB's
    native ASOF JOIN is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").cast("double").alias("view_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = as_of_join(
        purchases, views, ["user_id"], left_ts="ts", right_ts="ts",
        right_value_cols=["view_value"],
    )
    return joined.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("purchase_ts"), "view_value"
    )


@_register(
    "j3_range_join",
    """
    SELECT p_size, count(*) AS n_lines, SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN part
      ON l_quantity >= p_size - 2 AND l_quantity <= p_size + 2
    GROUP BY p_size
    """,
)
def j3_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (point-in-interval) join, bucketized to an equi hash join on
    the bucket grid instead of a nested loop.

    Scale move: the point side is pre-aggregated to its distinct values
    first (~50 quantities regardless of row count), so the range join's
    blow-up is |distinct points| x |intervals|, not |rows| x |intervals| —
    the join output shrinks from ~1B rows to ~100k at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    qagg = li.groupBy("l_quantity").agg(F.count("*").alias("__n"))
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        (F.col("p_size") - 2).cast("double").alias("lo"),
        (F.col("p_size") + 2).cast("double").alias("hi"),
    )
    joined = bucketed_range_join(qagg, part, "l_quantity", "lo", "hi", bucket_width=5.0)
    return joined.groupBy("p_size").agg(
        F.sum("__n").alias("n_lines"),
        F.sum(F.col("l_quantity") * F.col("__n")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# M5 LLM-data-pipeline operators (SURVEY.md §2.10)
# ---------------------------------------------------------------------------


@_register(
    "d1_exact_dedup",
    """
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint, keep smallest doc_id.
    keep_min_by (operators/dedup.py): map-side-combining aggregate keyed
    by the 128-bit digest (bounded key width at 100 TB) — duplicates
    collapse before the exchange."""
    from .operators.dedup import keep_min_by

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return keep_min_by(
        docs, [doc_fingerprint(F.col("text")).alias("__fp")], ["doc_id"]
    )


@_register(
    "ta1_text_stats",
    r"""
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(@TOKENS(text)@) END
             AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS n_tokens,
           CASE WHEN len(text) = 0 THEN 0.0
                ELSE CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                          AS DOUBLE) / len(text) END
             AS punct_ratio
    FROM documents
    """,
)
def ta1_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: word/token counts + punctuation ratio, all native
    expressions (map-only, scan-speed)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_count("text").alias("n_words"),
        token_count("text").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
    )


def _duck_lang_sql() -> str:
    score = lambda words: (
        "len(list_filter(@TOKENS(text)@, "
        f"t -> t IN ({', '.join(repr(w) for w in words)})))"
    )
    s = {lang: score(words) for lang, words in LANG_STOPWORDS.items()}
    stop = ", ".join(repr(w) for w in STOPWORDS)
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang,
             {s['en']} AS s_en, {s['de']} AS s_de, {s['es']} AS s_es, {s['fr']} AS s_fr,
             CASE WHEN len(@TOKENS(text)@) = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(len(list_filter(@TOKENS(text)@,
                                            t -> t IN ({stop}))) AS DOUBLE)
                       / len(@TOKENS(text)@) END
               AS stop_ratio
      FROM documents
    )
    SELECT doc_id, true_lang,
           CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                WHEN s_de = GREATEST(s_de, s_es, s_fr) THEN 'de'
                WHEN s_es = GREATEST(s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_guess,
           stop_ratio
    FROM scored
    """


@_register("ta2_lang_id", _duck_lang_sql())
def ta2_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword profiles) + stopword ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        lang_id("text").alias("lang_guess"),
        stopword_ratio("text").alias("stop_ratio"),
    )


@_register(
    "ta3_quality_score",
    r"""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END AS len_ok,
             CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0
                         ELSE CAST(len(text) - len(regexp_replace(text,
                              '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END)
                       <= 0.2 THEN 1.0 ELSE 0.0 END AS punct_ok,
             CASE WHEN (CASE WHEN len(@TOKENS(text)@) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(@TOKENS(text)@, t -> t IN ('the','a','an','of','and','to','in','is','it','that')))
                              AS DOUBLE)
                              / len(@TOKENS(text)@) END)
                       >= 0.05 THEN 1.0 ELSE 0.0 END AS stop_ok
      FROM documents
    )
    SELECT doc_id, (len_ok + punct_ok + stop_ok) / 3.0 AS quality
    FROM m
    """,
)
def ta3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (deterministic heuristic)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


@_register(
    "ta4_doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def ta4_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined document fingerprint (md5 over normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@_register(
    "ta5_repetition",
    r"""
    WITH toks AS (
      -- guard: Spark's tokens('') is [] (doc dropped by the explode) while
      -- regexp_split_to_array('') is [''] (one empty 2-gram row) — blank or
      -- NULL docs must not reach the UNNEST (mirrors tf1's oracle guard)
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
    ), sh AS (
      SELECT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 1], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 1, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), counts AS (
      SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY 1, 2
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_ngram_frac
    FROM counts GROUP BY doc_id
    """,
)
def ta5_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality stats (the Gopher-rules family): per doc,
    the fraction of word 2-grams occupied by the single most frequent
    2-gram — templated/boilerplate text scores high and gets filtered
    before training. Set-oriented: explode ALL 2-grams (not distinct),
    one (doc, gram) count shuffle (map-side combined), one per-doc
    max/sum agg; the fraction is integer-derived double division, exact
    on both engines. Map-scale at 100 TB: output is one row per doc."""
    from .functions.text import shingles
    from .operators.dedup import _spread

    docs = load_table(spark, sf_dir, "documents")
    sh = _spread(docs, "doc_id").select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 2)).alias("__sh")
    )
    counts = sh.groupBy("doc_id", "__sh").agg(F.count("*").alias("__c"))
    return counts.groupBy("doc_id").agg(
        F.sum("__c").alias("n_ngrams"),
        (F.max("__c").cast("double") / F.sum("__c").cast("double")).alias(
            "top_ngram_frac"
        ),
    ).select("doc_id", "n_ngrams", "top_ngram_frac")


@_register(
    "pii1_redaction",
    r"""
    WITH aug AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 7 = 0
                THEN ' contact agent007@example-mail.com now' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' or call 555-867-5309 today' ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      md5(regexp_replace(
            regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS clean_md5
    FROM aug
    """,
)
def pii1_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count + redact emails/phones
    with typed placeholders (functions/text.py redact_pii — map-only
    codegen'd regexes, identical under Java regex and RE2). The fixture
    text has no PII, so deterministic addresses/numbers are planted on a
    doc_id grid (the i1/d5c synthesis pattern) — the driver row shows
    the operator actually firing; md5 of the redacted text keeps the
    full scrubbed output hash-checked without shipping it."""
    from .functions.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" contact agent007@example-mail.com now"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" or call 555-867-5309 today"),
            ).otherwise(F.lit("")),
        ).alias("__t"),
    )
    n_emails, n_phones = pii_counts(F.col("__t"))
    return aug.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(redact_pii(F.col("__t"))).alias("clean_md5"),
    )


@_register(
    "tf1_keyword_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents WHERE len(trim(text)) > 0
    ), tok AS (
      SELECT doc_id, u.term FROM toks, UNNEST(t) AS u(term)
    ), tf AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS d FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.c AS DOUBLE) / CAST(df.d AS DOUBLE) AS score
      FROM tf JOIN df ON tf.term = df.term
    )
    SELECT doc_id, term, score, rnk FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tf1_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by the exact tf/df
    score (operators/keywords.py — tf-idf ordering intent without a
    transcendental in the output, so both engines produce identical
    bits; ranking totally ordered by (score desc, term asc))."""
    from .operators.keywords import tfidf_topk_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk_terms(docs, "doc_id", "text", k=3)


@_register(
    "lm1_unigram_freq_score",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS tk
      FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
    ), tok AS (
      SELECT doc_id, u.t FROM toks, UNNEST(tk) AS u(t)
    ), vocab AS (
      SELECT t, count(*) AS cnt FROM tok GROUP BY t
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
    ), pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(v.cnt) AS BIGINT) AS sum_cnt
      FROM tok JOIN vocab v ON tok.t = v.t GROUP BY doc_id
    )
    -- DOUBLE-cast factors: n_tokens * total as BIGINT overflows at the
    -- 100 TB design point (book-length doc x ~1e13 corpus tokens)
    SELECT doc_id, n_tokens, sum_cnt,
           CAST(sum_cnt AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(total AS DOUBLE)) AS score
    FROM pd, tot
    """,
)
def lm1_unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring, transcendental-free core
    (operators/keywords.py unigram_rarity_score): per doc, the arithmetic
    mean of its tokens' corpus frequencies — corpus-typical text scores
    high, rare-token soup (OCR noise, ID strings) scores low. Same plan
    shape as true unigram perplexity (vocab groupBy + token-keyed join +
    per-doc agg); the output stays a ratio of integers because ln() is
    last-ulp engine-dependent while integer-derived division is exact
    IEEE on both engines."""
    from .operators.keywords import unigram_rarity_score

    docs = load_table(spark, sf_dir, "documents")
    return unigram_rarity_score(docs, "doc_id", "text")


@_register(
    "samp1_stratified_sample",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_duck_mulhash32("doc_id", SAMP_MULT)} AS hh
      FROM documents
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn
      FROM h
    )
    SELECT doc_id, lang FROM r WHERE rn <= 5
    """,
)
def samp1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-N per-group sampling
    (plans/training_corpus.py stratified_sample): keep the 5 smallest-
    sampling-hash docs per language — the complement of mix1's hash
    FRACTIONS (dashboards/eval carving want exactly N per group
    regardless of group size), reproducible where TABLESAMPLE is not.
    Third decorrelated odd multiplier (SAMP_MULT), same overflow-safe
    mulhash32 decomposition on both engines; (hash, id) is a total
    order, so the selected set is unique."""
    from .plans.training_corpus import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, 5).select("doc_id", "lang")


@_register(
    "tc1_line_cleaning",
    r"""
    WITH aug AS (
      SELECT doc_id,
        regexp_replace(text, '((\S+ ){4}\S+) ', '\1' || chr(10), 'g')
        || CASE WHEN doc_id % 3 = 0
                THEN chr(10) || 'subscribe to our newsletter'
                  || chr(10) || 'subscribe to our newsletter'
                  || chr(10) || 'ok'
                ELSE '' END AS t
      FROM documents
    ), arr AS (
      SELECT doc_id, string_split(t, chr(10)) AS lines FROM aug
    ), k AS (
      SELECT doc_id, lines,
             list_filter(lines, l -> len(trim(l)) > 0
               AND len(list_filter(regexp_split_to_array(trim(l), '\s+'), zz -> zz <> '')) >= 3) AS kept
      FROM arr
    ), d AS (
      SELECT doc_id, lines,
             list_filter(kept, (x, i) -> list_position(kept, x) = i) AS dedup
      FROM k
    )
    SELECT doc_id,
           CAST(len(lines) AS INTEGER) AS n_lines,
           CAST(len(dedup) AS INTEGER) AS n_kept,
           -- coalesce: DuckDB array_to_string([]) is NULL while Spark
           -- array_join([]) is '' — an all-lines-dropped doc must hash
           -- the EMPTY string on both engines (adversarial sim, r14)
           CASE WHEN dedup IS NULL THEN NULL
                ELSE md5(coalesce(array_to_string(dedup, chr(10)), '')) END
             AS clean_md5
    FROM d
    """,
)
def tc1_line_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate cleaning
    (functions/text.py clean_lines): drop short/blank lines, drop
    repeated lines keeping the FIRST occurrence in reading order — the
    granularity between whole-doc dedup (d1) and chunking (ch1). The
    fixture text is single-line, so lines are planted deterministically
    (a newline every 5 words; every 3rd doc gets a duplicated
    boilerplate line plus a too-short line — the i1/pii1 synthesis
    pattern, so the driver row shows both rules actually firing). Pure
    Column expressions — map-only, scan-speed at 100 TB; the md5 of the
    reassembled text puts the exact kept-line content under the hash
    gate, first-occurrence order included."""
    from .functions.text import clean_lines, split_lines

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((\S+ ){4}\S+) ", "$1\n"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(
                    "\nsubscribe to our newsletter"
                    "\nsubscribe to our newsletter\nok"
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    deduped = clean_lines(F.col("t"), min_words=3)
    return aug.select(
        "doc_id",
        F.size(split_lines(F.col("t"))).alias("n_lines"),
        F.size(deduped).alias("n_kept"),
        F.md5(F.array_join(deduped, "\n")).alias("clean_md5"),
    )


@_register(
    "mix1_domain_mixing",
    """
    WITH kept AS (
      SELECT * FROM documents
      WHERE @MULHASH_MIX@ <
            CASE lang WHEN 'en' THEN 4294967296
                      WHEN 'de' THEN 2147483648
                      WHEN 'es' THEN 1073741824
                      WHEN 'fr' THEN 429496729
                      ELSE 0 END
    )
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_tokens
    FROM kept GROUP BY lang
    """,
)
def mix1_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing (plans/training_corpus.py domain_mix):
    per-language keep fractions as exact integer hash thresholds out of
    2^32 (en 100%, de 50%, es 25%, fr 10%, zh dropped) — the
    up/down-sampling step that sets a training mixture's domain weights,
    reproducible under re-runs/repartition/engine change where
    sample()/TABLESAMPLE are not. Map-only filter; the mixing hash uses a
    different odd multiplier than the train/eval split so the two
    decisions are decorrelated."""
    from .plans.training_corpus import SPLIT_MOD, domain_mix

    docs = load_table(spark, sf_dir, "documents")
    fractions = {
        "en": SPLIT_MOD,            # 4294967296: keep all
        "de": SPLIT_MOD // 2,       # 2147483648
        "es": SPLIT_MOD // 4,       # 1073741824
        "fr": SPLIT_MOD // 10,      # 429496729
    }
    kept = domain_mix(docs, fractions)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )


@_register(
    "pack1_token_budget",
    r"""
    WITH scored AS (
      SELECT doc_id, lang,
        ((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0
                ELSE CAST(len(text) - len(regexp_replace(text,
                     '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END)
              <= 0.2 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN (CASE WHEN len(@TOKENS(text)@) = 0 THEN 0.0
                ELSE CAST(len(list_filter(@TOKENS(text)@, t -> t IN ('the','a','an','of','and','to','in','is','it','that')))
                     AS DOUBLE)
                     / len(@TOKENS(text)@) END)
              >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
          AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      -- CAST: DuckDB's windowed SUM over BIGINT widens to HUGEINT (int128);
      -- the driver's value-hash is width-sensitive (mirrors mix1's cast).
      SELECT *, CAST(SUM(n_tokens) OVER (
        PARTITION BY lang ORDER BY quality DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM packed WHERE cum_tokens <= 3000
    """,
)
def pack1_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language data selection under a token budget
    (plans/training_corpus.py pack_token_budget): rank by (quality desc,
    doc_id) — a total order — and keep the strict prefix whose running
    token total fits 3000 tokens. One window per group; the running
    state is a single long. The 'best N tokens per domain' step of
    corpus assembly. The quality score itself stays OUT of the output:
    DuckDB's 1.0 literals are DECIMAL, so its division by 3.0 rounds
    decimally while Spark divides doubles — the RANKING is identical
    (both are monotone in the integer rule-sum) but the bytes are not;
    ids + integer token counts keep the hash comparison exact."""
    from .plans.training_corpus import pack_token_budget

    docs = load_table(spark, sf_dir, "documents")
    return pack_token_budget(docs, 3000).select(
        "doc_id", "lang", "n_tokens", "cum_tokens"
    )


@_register(
    "sd1_substring_dup_report",
    r"""
    WITH aug AS (
      SELECT doc_id,
        text || CASE WHEN doc_id % 5 = 0
          THEN ' the quick brown fox jumps over the lazy dog again and again'
          ELSE '' END AS t
      FROM documents
    ), toks AS (
      SELECT doc_id, @TOKENS(t)@ AS tk
      FROM aug WHERE t IS NOT NULL AND len(trim(t)) > 0
    ), spans AS (
      SELECT doc_id, g.i AS pos, array_to_string(tk[g.i : g.i + 7], ' ') AS span
      FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS g(i)
      WHERE len(tk) >= 8
    ), ranked AS (
      SELECT doc_id, span,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS dup_frac
    FROM ranked GROUP BY doc_id
    """,
)
def sd1_substring_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span report (operators/dedup.py
    duplicated_span_report): stride-1 8-token windows ranked globally
    with a total (span, doc_id, pos) order — any duplicated run of >= 8
    tokens contains a duplicated window, the distributable restatement of
    the published suffix-array exact-substring dedup. The fixture's
    random text has almost no cross-doc 8-gram collisions, so every 5th
    doc plants one shared boilerplate sentence (the i1/pii1/tc1
    synthesis pattern) — the driver row shows both the detection (dup
    fractions > 0 on planted docs) and the clean negatives."""
    from .operators.dedup import duplicated_span_report

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(
                    " the quick brown fox jumps over the lazy dog"
                    " again and again"
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    rep = duplicated_span_report(aug, "doc_id", "t", window=8)
    return rep.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        "dup_frac",
    )


@_register(
    "par1_paragraph_dedup",
    r"""
    WITH aug AS (
      SELECT doc_id,
        regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10) || chr(10), 'g')
        || CASE WHEN doc_id % 4 = 0
             THEN chr(10) || chr(10)
               || 'call now to subscribe to our newsletter today'
             ELSE '' END AS t
      FROM documents
    ), sp AS (
      SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps
      FROM aug WHERE t IS NOT NULL
    ), p AS (
      SELECT doc_id, i - 1 AS pos, ps[i] AS para
      FROM sp, unnest(generate_series(1, len(ps))) AS u(i)
      WHERE len(trim(ps[i])) > 0
    ), r AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos)
               AS rn
      FROM p
    )
    SELECT doc_id,
           md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS text_md5,
           CAST(count(*) AS BIGINT) AS n_paras
    FROM r WHERE rn = 1 GROUP BY doc_id
    """,
)
def par1_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-GLOBAL paragraph dedup (operators/dedup.py paragraph_dedup)
    — the C4 recipe: every distinct paragraph survives exactly once
    corpus-wide (first occurrence by (doc_id, pos) reading order), docs
    reassembled from their surviving paragraphs. Completes the dedup
    granularity ladder: whole-doc (d1) / cross-doc paragraph (this) /
    per-doc line (tc1) / span report (sd1). Fixture text is single-line,
    so paragraphs are planted deterministically (a break every 10 words;
    every 4th doc appends one shared boilerplate paragraph — the
    i1/tc1/sd1 synthesis pattern, so the driver row shows the cross-doc
    removal actually firing: the boilerplate survives only in doc 0).
    Round-12 execution shape: paragraph-granularity exchanges carry
    (md5, id, pos) fingerprints only, document text shuffles exactly
    once via the doc-id reassembly join; the md5 of the reassembled
    text puts paragraph content AND reading order under the hash
    gate."""
    from .operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((\S+ ){9}\S+) ", "$1\n\n"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("\n\ncall now to subscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    out = paragraph_dedup(aug, "doc_id", "t")
    return out.select(
        "doc_id", F.md5(F.col("t")).alias("text_md5"), "n_paras"
    )


@_register(
    "dq1_column_profile",
    r"""
    WITH src AS (
      SELECT o_orderstatus, o_orderpriority, o_custkey,
             nullif(o_orderstatus, 'P') AS status_nullable
      FROM orders
    ), s AS (
      SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM src
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM src
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM src
      UNION ALL
      SELECT 'status_nullable', status_nullable FROM src
    ), c AS (
      SELECT col_name, val, count(*) AS cnt FROM s GROUP BY 1, 2
    )
    SELECT col_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(coalesce(SUM(CASE WHEN val IS NULL THEN cnt END), 0)
             AS BIGINT) AS n_nulls,
           CAST(count(val) AS BIGINT) AS n_distinct,
           min(val) AS min_val,
           max(val) AS max_val
    FROM c GROUP BY 1
    """,
)
def dq1_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality profile (operators/profile.py
    profile_columns): per audited column — completeness (null count),
    EXACT distinctness, lexicographic value bounds — the batch-level
    statement of the row-level constraints the reference enforces per
    webhook row (Status / Inventory Item ID / Quantity,
    makeRouter.js:34,86-101). Exact path: two shuffles regardless of
    column count (stacked (col, val) counts, map-side combined), never
    k-distinct-aggregates-in-one-agg (Catalyst's Expand). The fixture
    has no NULLs, so one nullable column is planted via nullif — the
    i1/tc1 synthesis pattern, so the driver row shows the completeness
    counter actually firing. The approximate single-pass HLL++ variant
    is the 100 TB default (tests assert tolerance)."""
    from .operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    aug = orders.withColumn(
        "status_nullable", F.expr("nullif(o_orderstatus, 'P')")
    )
    return profile_columns(
        aug,
        ["o_orderstatus", "o_orderpriority", "o_custkey", "status_nullable"],
    )


@_register(
    "bm25_1_query_ranking",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(tk) AS dl,
             len(list_filter(tk, x -> x = 'table')) AS tf_table,
             len(list_filter(tk, x -> x = 'scan'))  AS tf_scan,
             len(list_filter(tk, x -> x = 'merge')) AS tf_merge
      FROM (
        SELECT doc_id, @TOKENS(text)@ AS tk
        FROM documents
        WHERE text IS NOT NULL AND len(trim(text)) > 0
      )
    ), stats AS (
      SELECT count(*) AS n, SUM(dl) AS sumdl,
             coalesce(SUM(CASE WHEN tf_table > 0 THEN 1 END), 0) AS df_table,
             coalesce(SUM(CASE WHEN tf_scan  > 0 THEN 1 END), 0) AS df_scan,
             coalesce(SUM(CASE WHEN tf_merge > 0 THEN 1 END), 0) AS df_merge
      FROM base
    ), scored AS (
      SELECT doc_id, dl, tf_table, tf_scan, tf_merge,
        (
          ((CAST(n - df_table AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / (CAST(df_table AS DOUBLE) + CAST(0.5 AS DOUBLE)))
          * ((CAST(tf_table AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(tf_table AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
          +
          ((CAST(n - df_scan AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / (CAST(df_scan AS DOUBLE) + CAST(0.5 AS DOUBLE)))
          * ((CAST(tf_scan AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(tf_scan AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
          +
          ((CAST(n - df_merge AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / (CAST(df_merge AS DOUBLE) + CAST(0.5 AS DOUBLE)))
          * ((CAST(tf_merge AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(tf_merge AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
        ) AS score
      FROM base, stats
    )
    SELECT doc_id, dl, tf_table, tf_scan, tf_merge, score
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def bm25_1_query_ranking(
    spark: SparkSession, sf_dir: str, eager: bool = True
) -> DataFrame:
    """Rational-idf BM25 top-k retrieval (operators/ranking.py
    bm25_topk): rank documents against literal probe terms — the
    reference's point-GET key lookup (server.js) lifted to ranked
    full-text relevance. The idf's log is dropped (the lm1 lesson:
    transcendentals are last-ulp engine-dependent; +,*,/ on doubles are
    IEEE-exact), so the DOUBLE score value-hash-matches the SQL twin
    bit-for-bit — the twin restates the exact expression tree, same
    parenthesization, same literals. Plan shape: _spread (r12 — the
    doc-id repartition every expensive per-doc map takes, so the tf
    stage parallelizes off a single-row-group file), then MAP-ONLY
    tf/dl (query terms are literals — size(filter(tokens, =t)) column
    exprs, no explode, no (doc, term) shuffle), ONE single-row stats
    aggregate broadcast back, fixed-fold score expression, top-k via
    TakeOrderedAndProject. Blank docs filtered on both sides (the ta5
    oracle-guard lesson)."""
    from .operators.ranking import bm25_topk

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return bm25_topk(
        docs, "doc_id", "text", ["table", "scan", "merge"], k=20,
        materialize=eager,
    )


@_register(
    "diff1_snapshot_diff",
    r"""
    WITH old AS (
      SELECT doc_id, text FROM documents
    ), newt AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000, 'brand new document'
      FROM documents WHERE doc_id % 19 = 0
    ), oh AS (
      -- mirror the engine's injective encoding: concat of fixed-width
      -- per-column digests (sha256(value), all-zeros sentinel for NULL)
      -- under an outer sha256 — immune to NULL-separator swallowing and
      -- to values that contain the would-be separator byte
      SELECT doc_id,
             sha256(concat(coalesce(sha256(CAST(text AS VARCHAR)),
                                    repeat('0', 64)))) AS h
      FROM old
    ), nh AS (
      SELECT doc_id,
             sha256(concat(coalesce(sha256(CAST(text AS VARCHAR)),
                                    repeat('0', 64)))) AS h
      FROM newt
    )
    SELECT coalesce(oh.doc_id, nh.doc_id) AS doc_id,
           CASE WHEN oh.doc_id IS NULL THEN 'added'
                WHEN nh.doc_id IS NULL THEN 'removed'
                WHEN oh.h <> nh.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
    """,
)
def diff1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/diff.py snapshot_diff): classify
    every id across two corpus versions as added / removed / changed /
    unchanged — the reference's per-row PUT-vs-POST upsert decision
    (makeRouter.js:86-101) as one set-at-a-time full-outer join. The
    "new" snapshot is synthesized deterministically from the fixture
    (every 17th doc removed, every 13th text-mutated, every 19th spawns
    a fresh id — the i1/tc1 pattern, so the driver row proves all four
    classes fire). Map-only sha2 projection first: the join moves ~48
    bytes/row however wide the documents are; bucketing both snapshots
    by id at write time makes the diff exchange-free at 100 TB."""
    from .operators.diff import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("brand new document").alias("text"),
            )
        )
    )
    return snapshot_diff(docs, new, "doc_id", ["text"])


@_register(
    "hop1_hopping_window_agg",
    """
    WITH e AS (
      SELECT event_type, event_id,
             date_trunc('hour', ts)
               + CASE WHEN extract(minute FROM ts) >= 30
                      THEN INTERVAL '30' MINUTE
                      ELSE INTERVAL '0' MINUTE END AS s0
      -- NULL event times are dropped (event-time family contract, r14)
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, event_id, s0 AS ws FROM e
      UNION ALL
      SELECT event_type, event_id, s0 - INTERVAL '30' MINUTE FROM e
    )
    SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
           count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
    FROM x GROUP BY 1, 2
    """,
)
def hop1_hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) time windows in BATCH: ``F.window(ts, '1 hour',
    '30 minutes')`` — each event lands in width/slide = 2 overlapping
    windows; Catalyst expands them map-side (a 2× row fan-out, NOT a
    join) and the groupBy partially aggregates before the one shuffle.
    Complements st1 (tumbling, streaming) and st5 (session): the third
    window family of SURVEY §2.6/§2.8, here over the batch path where a
    dashboard backfill would run it. Aggregates are count/min/max only —
    order-insensitive, so the row set is exact under any partitioning
    (the double `value` column is deliberately NOT summed; floats fold
    shuffle-order-dependent). The oracle replays the expansion as a
    2-way UNION on the 30-minute grid anchor."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "min_id",
            "max_id",
        )
    )


@_register(
    "unp1_unpivot_measures",
    """
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey < 100
    )
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS val FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
    """,
)
def unp1_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native wide→long unpivot/melt (the inverse of a5's pivot — closes
    the reshape pair in SURVEY §2.6): four measure columns to (measure,
    val) rows via ``DataFrame.unpivot``, which Catalyst plans as a
    map-side Expand — a 4× row fan-out with NO shuffle and NO join;
    the filter is pushed below the Expand to the scan. Values pass
    through untouched (no float arithmetic), so the DOUBLE column is
    exact against the 4-leg UNION ALL oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
    )


@_register(
    "d2_ngram_jaccard",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    """,
)
def d2_ngram_jaccard(
    spark: SparkSession, sf_dir: str, eager: bool = True
) -> DataFrame:
    """Near-dup detection: exact 3-gram Jaccard >= 0.2 via shingle inverted
    index (no all-pairs cross join)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.2, materialize=eager
    )


@_register(
    "d2b_ngram_jaccard_capped",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), hot AS (
      SELECT sh AS hsh FROM sh GROUP BY sh HAVING count(*) > 5
    ), cold AS (
      SELECT s.doc_id, s.sh FROM sh s LEFT JOIN hot h ON s.sh = h.hsh
      WHERE h.hsh IS NULL
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    """,
)
def d2b_ngram_jaccard_capped(
    spark: SparkSession, sf_dir: str, eager: bool = True
) -> DataFrame:
    """The hot-shingle safety valve, oracle-checked end-to-end: same exact
    3-gram Jaccard as d2 but shingles appearing in > 5 documents are
    excluded from pair generation (set sizes stay exact, so surviving
    pairs are under-measured, never over-measured). The only LSH-family
    cap DuckDB can twin exactly — the hash-based caps (d3/d4/d5b) share
    the same `_drop_hot_buckets` code path and are property-tested
    capped ⊆ exact instead.

    ``eager=False`` (tools/explain_audit.py, round 11) exposes the
    identical composed plan without the localCheckpoint cut so the audit
    asserts the real scan + pushdown shapes, exactly as d2/d3 do."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.2, max_df=5,
        materialize=eager,
    )


@_register("d3_minhash_lsh")  # no SQL twin: xxhash64 family not in DuckDB
def d3_minhash_lsh(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """MinHash+LSH near-dup candidates (rows-only driver check; recall vs
    exact Jaccard is asserted in tests/test_similarity_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, threshold=0.2,
        eager=eager,
    )


def _duck_minhash_md5_sql(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.2
) -> str:
    """Generate the DuckDB twin of the md5-family MinHash-LSH pipeline —
    mechanically: num_hashes MIN-aggregates for the signature, one
    UNION ALL leg per band, and the position-agreement sum for the
    estimated Jaccard. Mirrors operators/dedup.py minhash_lsh_pairs
    (hash_family='md5') expression by expression."""
    rpb = num_hashes // bands
    h_aggs = ",\n        ".join(
        f"MIN(CAST(concat('0x', substring(md5('mh{i}|' || sh), 1, 15)) "
        f"AS BIGINT)) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {i} AS band_idx, md5(concat_ws(',', "
        + ", ".join(f"CAST(h{i * rpb + j} AS VARCHAR)" for j in range(rpb))
        + ")) AS band_hash FROM sig"
        for i in range(bands)
    )
    agree = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(num_hashes)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sig AS (
      SELECT doc_id,
        {h_aggs}
      FROM sh GROUP BY doc_id
    ), banded AS (
      {band_rows}
    ), cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(({agree}) AS DOUBLE) / {float(num_hashes)} AS est_jaccard
    FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b
    WHERE CAST(({agree}) AS DOUBLE) / {float(num_hashes)} >= {threshold}
    """


@_register("d3b_minhash_lsh_md5", _duck_minhash_md5_sql())
def d3b_minhash_lsh_md5(
    spark: SparkSession, sf_dir: str, eager: bool = True
) -> DataFrame:
    """The ENTIRE MinHash-LSH banding pipeline, hash-checked end-to-end:
    identical algorithm to d3 (signatures -> band hashes -> candidate
    join -> agreement re-score) with the hash family swapped from
    xxhash64 (absent in DuckDB -> d3 is rows-only) to an md5-derived
    60-bit family both engines compute byte-identically. The oracle
    regenerates every expression mechanically, so the banding JOIN
    itself — not just its inputs — is under the value-hash gate. d3
    stays the production default (xxhash64 is ~2× faster per shingle);
    this entry certifies the shared code path.

    ``eager=False`` (tools/explain_audit.py, round 11) skips the
    signature persist + localCheckpoint so the audit sees the full lazy
    plan (scan + pushdown), exactly as d2/d3 do."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.2,
        hash_family="md5", eager=eager,
    )


def _duck_simhash_md5_sql(n_bits: int = 60, max_hamming: int = 8) -> str:
    """DuckDB twin of the md5-family SimHash pipeline, generated
    mechanically: 60-bit token hash, per-bit +1/-1 sums, sign-vector
    pack, 4×15-bit chunk blocking, bit_count(xor) Hamming re-check.
    Mirrors operators/dedup.py simhash64 / simhash_near_dup_pairs
    (hash_family='md5') expression by expression."""
    chunk_bits = n_bits // 4
    mask = (1 << chunk_bits) - 1
    bit_sums = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    pack = "\n        + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(n_bits)
    )
    chunk_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {i} AS chunk_idx, (simhash >> {i * chunk_bits}) & {mask} AS chunk FROM sig"
        for i in range(4)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), tok AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(u.tk), 1, 15)) AS BIGINT) AS h
      FROM toks, UNNEST(t) AS u(tk)
    ), sums AS (
      SELECT doc_id,
        {bit_sums}
      FROM tok GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
        {pack} AS simhash
      FROM sums
    ), blocked AS (
      {chunk_rows}
    ), cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM blocked x JOIN blocked y
        ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
       AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@_register("d4b_simhash_md5", _duck_simhash_md5_sql())
def d4b_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE SimHash near-dup pipeline hash-checked end-to-end (the
    d3b pattern applied to d4): same algorithm — per-bit sign sums,
    pack, 4-chunk pigeonhole blocking, Hamming re-check — with the hash
    family swapped to the 60-bit md5-derived one both engines compute
    byte-identically. d4 stays the production default (64-bit xxhash64);
    this entry certifies the shared code path against a mechanically
    generated DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=8, hash_family="md5"
    )


@_register("d4_simhash")  # no SQL twin: xxhash64 not in DuckDB
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only driver check)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=12)


@_register(
    "d5_embedding_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    -- NULL vectors never pair (engine NULL-cosine contract; guards the
    -- DuckDB vectorized NULL-list rejection — r14)
    WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
      AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.9
    """,
)
def d5_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (ids only — float-boundary-safe
    output; cosine math in double on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.9).select(
        "id_a", "id_b"
    )


@_register("d5b_embedding_near_dup_lsh")  # approximate blocking: rows-only;
# recall vs the exact d5 baseline bounded in tests/test_similarity_dedup.py
def d5b_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-blocked embedding near-dup pairs — the production path
    (one keyed self-join on the bucket instead of d5's all-pairs
    BroadcastNestedLoopJoin); exact cosine re-check, same threshold as d5."""
    emb = load_table(spark, sf_dir, "embeddings")
    # dim passed from the fixture contract (TESTDATA.md: 64-float vectors)
    # so the operator stays fully lazy — no probe job at construction time
    return embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.9, n_planes=8, multiprobe_hamming=1,
        dim=64,
    ).select("id_a", "id_b")


def _planted_near_dup_embeddings(emb, n_base: int = 64, offset: int = 1_000_000):
    """Deterministic near-dup construction over the fixture embeddings:
    each vec_id < n_base gets a perturbed twin at vec_id + offset
    (per-coordinate cosine ripple, amplitude 0.02 — twin cosine ≈ 0.999,
    far above any random-pair cosine in the fixture). Pure Column
    expressions: same planted corpus on every engine, every run."""
    base = emb.filter(F.col("vec_id") < n_base).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ripple = F.transform(
        "embedding",
        lambda x, i: x
        + F.lit(0.02) * F.cos(i.cast("double") * F.lit(0.7) + F.col("vec_id").cast("double")),
    )
    planted = base.select(
        (F.col("vec_id") + F.lit(offset)).alias("vec_id"),
        ripple.alias("embedding"),
    )
    return base.unionByName(planted)


@_register("d5c_embedding_near_dup_lsh_planted")  # approximate blocking:
# rows-only; unlike d5b on the raw fixture (whose correct answer is 0 pairs),
# this entry plants deterministic near-dup twins so the driver record shows
# the production LSH path actually pairing documents (rows > 0); recall and
# subset-of-exact vs the brute-force baseline on the same planted input are
# asserted in tests/test_similarity_dedup.py
def d5c_embedding_near_dup_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup over fixture embeddings with planted twins:
    vec_id < 64 duplicated at +1e6 with a small deterministic perturbation;
    the LSH path (same parameters as d5b) must surface the twin pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    union = _planted_near_dup_embeddings(emb)
    return embedding_near_dup_pairs_lsh(
        union, "vec_id", "embedding", threshold=0.98, n_planes=8,
        multiprobe_hamming=1, dim=64,
    ).select("id_a", "id_b")


def _duck_embedding_lsh_sql(
    dim: int = 64, n_planes: int = 8, seed: int = 42, threshold: float = 0.4
) -> str:
    """DuckDB twin of the hyperplane-LSH embedding near-dup pipeline —
    generated mechanically from the SAME plane literals the Spark
    operator embeds (operators/similarity._hyperplanes is pure seeded
    Python, so both engines see identical doubles). Every float chain is
    written LEFT-ASSOCIATIVE starting from CAST(0 AS DOUBLE), matching
    the Spark ``aggregate`` fold order term by term — projections,
    norms, and the cosine are then bit-identical, not merely close."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)

    def chain(terms: list[str]) -> str:
        return "CAST(0 AS DOUBLE) + " + " + ".join(terms)

    bucket_terms = []
    for i, p in enumerate(planes):
        proj = chain(
            [f"CAST(embedding[{j + 1}] AS DOUBLE) * {p[j]!r}" for j in range(dim)]
        )
        bucket_terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket_expr = "\n        + ".join(bucket_terms)
    probe_legs = "\n      UNION ALL\n      ".join(
        ["SELECT vec_id, bucket AS pb FROM bucketed"]
        + [
            f"SELECT vec_id, xor(bucket, {1 << i}) AS pb FROM bucketed"
            for i in range(n_planes)
        ]
    )
    dot_ab = chain(
        [
            f"CAST(a.embedding[{j + 1}] AS DOUBLE) * CAST(b.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    na = chain(
        [
            f"CAST(a.embedding[{j + 1}] AS DOUBLE) * CAST(a.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    nb = chain(
        [
            f"CAST(b.embedding[{j + 1}] AS DOUBLE) * CAST(b.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id,
        {bucket_expr} AS bucket
      FROM embeddings
    ), probes AS (
      {probe_legs}
    ), cand AS (
      SELECT DISTINCT LEAST(p.vec_id, x.vec_id) AS id_a,
                      GREATEST(p.vec_id, x.vec_id) AS id_b
      FROM probes p JOIN bucketed x
        ON p.pb = x.bucket AND p.vec_id <> x.vec_id
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT c.id_a, c.id_b,
             ({dot_ab}) / (sqrt({na}) * sqrt({nb})) AS cosine
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.id_a
      JOIN embeddings b ON b.vec_id = c.id_b
    ) WHERE cosine >= CAST({threshold} AS DOUBLE)
    """


@_register("d5d_embedding_lsh_oracle", _duck_embedding_lsh_sql())
def d5d_embedding_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE hyperplane-LSH embedding near-dup pipeline hash-checked
    end-to-end (completing the d2b/d3b/d4b series — every approximate
    blocking family now has its join logic under the value-hash gate):
    the identical d5b code path and plane literals, at threshold 0.4
    where the raw fixture holds real moderately-similar pairs, so the
    driver row is non-vacuous without planting. The oracle regenerates
    the plane projections, bucket packing, multiprobe legs, candidate
    join and exact-cosine re-check with every float chain in Spark's
    fold order — the cosine DOUBLES match bitwise, not approximately."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, n_planes=8, seed=42,
        multiprobe_hamming=1, dim=64,
    )


@_register(
    "n1_topk_cosine",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    -- embedding IS NOT NULL: the engine's NULL-cosine contract ranks a
    -- NULL vector last (it can never enter the top-k of a real corpus);
    -- DuckDB's vectorized list_inner_product rejects NULL lists loudly
    -- instead (hostile-fixture sim, r14)
    SELECT vec_id FROM embeddings, q
    WHERE embedding IS NOT NULL
    ORDER BY list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) DESC,
             vec_id
    LIMIT 10
    """,
)
def n1_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 cosine neighbors of vec_id=0 (ids only).
    Compiles to TakeOrderedAndProject: per-partition heaps, no full sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, "embedding", [float(x) for x in query_vec], k=10).select(
        "vec_id"
    )


def _duck_lsh_topk_sql(
    dim: int = 64, n_planes: int = 8, seed: int = 42, k: int = 10,
    multiprobe_hamming: int = 2,
) -> str:
    """DuckDB twin of the LSH-bucketed top-k probe (the d5d construction
    applied to n2): plane projections, bucket bit-packing, the Hamming
    multiprobe filter, and the cosine ranking are regenerated from the
    SAME seeded plane literals with every float chain written
    LEFT-ASSOCIATIVE from CAST(0 AS DOUBLE) — Spark's ``aggregate`` fold
    order term by term, so cosines (and therefore the LIMIT cutoff) are
    bit-identical. The query vector is data-dependent (vec_id = 0), so
    its bucket is computed IN SQL with the same bucket expression the
    corpus rows get — matching the driver-side Python fold, which is the
    same left-assoc sum over the same doubles."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)

    def chain(terms: list[str]) -> str:
        return "CAST(0 AS DOUBLE) + " + " + ".join(terms)

    bucket_terms = []
    for i, p in enumerate(planes):
        proj = chain(
            [f"CAST(embedding[{j + 1}] AS DOUBLE) * {p[j]!r}" for j in range(dim)]
        )
        bucket_terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket_expr = "\n        + ".join(bucket_terms)
    dot_eq = chain(
        [
            f"CAST(e.embedding[{j + 1}] AS DOUBLE) * CAST(q.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    ne = chain(
        [
            f"CAST(e.embedding[{j + 1}] AS DOUBLE) * CAST(e.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    nq = chain(
        [
            f"CAST(q.embedding[{j + 1}] AS DOUBLE) * CAST(q.embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT ({bucket_expr}) AS qbucket FROM q),
    bucketed AS (
      SELECT vec_id, embedding, ({bucket_expr}) AS bucket FROM embeddings
    ),
    cand AS (
      SELECT b.vec_id, b.embedding FROM bucketed b, qb
      WHERE bit_count(xor(CAST(b.bucket AS BIGINT), CAST(qb.qbucket AS BIGINT)))
            <= {multiprobe_hamming}
    )
    SELECT e.vec_id FROM cand e, q
    ORDER BY ({dot_eq}) / (sqrt({ne}) * sqrt({nq})) DESC, e.vec_id
    LIMIT {k}
    """


@_register("n2_lsh_topk", _duck_lsh_topk_sql())
def n2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (hyperplane signatures prune the
    scan). Deterministic given the seed, hence oracle-checked end-to-end
    since round 6 (previously rows-only): the SQL twin regenerates the
    plane projections and the multiprobe Hamming filter and must produce
    the same 10 ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return lsh_bucket_topk(
        emb, "embedding", [float(x) for x in query_vec], k=10, n_planes=8,
        multiprobe_hamming=2,
    ).select("vec_id")


@_register("n3_ivf_topk")  # KMeans-trained centroids: rows-only; the probe/
# argmin/rank logic is oracle-certified via n3b's literal-centroid twin
def n3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: KMeans posting lists, nprobe nearest probed;
    cluster assignment is a codegen'd argmin expression (scale path:
    partitionBy(cluster) -> partition pruning at the scan)."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ivf_topk(
        emb, "embedding", [float(x) for x in query_vec], k=10, n_clusters=16, nprobe=4
    ).select("vec_id")


def _ivf_literals() -> tuple[list[list[float]], list[float]]:
    """Deterministic centroids + query vector for the n3b oracle twin:
    seeded unit vectors (a spherical-kmeans-like random init), generated
    once in pure Python so both engines embed identical doubles."""
    from .operators.similarity import _hyperplanes

    return _hyperplanes(64, 16, seed=7), _hyperplanes(64, 1, seed=123)[0]


def _duck_ivf_topk_sql(k: int = 10, nprobe: int = 4) -> str:
    """DuckDB twin of the IVF probe with LITERAL centroids (the injection
    parameter ``centroids=`` is the at-scale wiring — train once, probe
    many): per-row argmin cluster assignment (row_number over (dist, idx),
    the exact lexicographic order of Spark's array_min over (dist, idx)
    structs), the Python-side nprobe centroid ranking embedded as an IN
    list (both engines compute it identically at generation time), and
    the cosine ranking — all float chains in Spark fold order."""
    centroids, query = _ivf_literals()
    dim = len(query)

    def chain(terms: list[str]) -> str:
        return "CAST(0 AS DOUBLE) + " + " + ".join(terms)

    dvv = chain(
        [
            f"CAST(embedding[{j + 1}] AS DOUBLE) * CAST(embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    legs = []
    for i, c in enumerate(centroids):
        dvc = chain(
            [f"CAST(embedding[{j + 1}] AS DOUBLE) * {c[j]!r}" for j in range(dim)]
        )
        c2 = sum(x * x for x in c)
        # CAST the bare literal: DuckDB parses float literals as DECIMAL,
        # and DECIMAL-only arithmetic overflows scale 38 (DOUBLE * DECIMAL
        # is fine — the chains above rely on that, as d5d does)
        legs.append(
            f"SELECT vec_id, {i} AS idx, dvv - 2 * ({dvc})"
            f" + CAST({c2!r} AS DOUBLE) AS dist FROM base"
        )
    dists = "\n      UNION ALL\n      ".join(legs)
    probe = sorted(
        range(len(centroids)),
        key=lambda i: sum((a - b) * (a - b) for a, b in zip(query, centroids[i])),
    )[:nprobe]
    dot_q = chain(
        [f"CAST(embedding[{j + 1}] AS DOUBLE) * {query[j]!r}" for j in range(dim)]
    )
    ne = chain(
        [
            f"CAST(embedding[{j + 1}] AS DOUBLE) * CAST(embedding[{j + 1}] AS DOUBLE)"
            for j in range(dim)
        ]
    )
    nq = chain(
        [
            f"CAST({query[j]!r} AS DOUBLE) * CAST({query[j]!r} AS DOUBLE)"
            for j in range(dim)
        ]
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, ({dvv}) AS dvv FROM embeddings
    ), dists AS (
      {dists}
    ), assign AS (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, idx) AS rn
      FROM dists
    ), clusters AS (
      SELECT vec_id FROM assign WHERE rn = 1 AND idx IN ({", ".join(map(str, probe))})
    )
    SELECT e.vec_id FROM embeddings e JOIN clusters c ON e.vec_id = c.vec_id
    ORDER BY ({dot_q}) / (sqrt({ne}) * sqrt({nq})) DESC, e.vec_id
    LIMIT {k}
    """


@_register("n3b_ivf_topk_oracle", _duck_ivf_topk_sql())
def n3b_ivf_topk_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF top-k path under the value-hash gate: identical ivf_topk
    code to n3 but with injected literal centroids and a literal query
    vector (the ``centroids=`` injection is also the at-scale wiring —
    train once on a sample, probe many queries), so the per-row argmin
    assignment, nprobe pruning, cosine ranking and LIMIT cutoff are all
    deterministic and SQL-expressible. KMeans training itself stays under
    n3's rows-only entry + recall tests."""
    from .operators.similarity import ivf_topk

    centroids, query = _ivf_literals()
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "embedding", query, k=10, nprobe=4, centroids=centroids,
        id_col="vec_id",
    ).select("vec_id")


# ---------------------------------------------------------------------------
# M3 continued: strings / dates / global sort / cube (SURVEY.md §2.6-2.7)
# ---------------------------------------------------------------------------


@_register(
    "u1_string_funcs",
    """
    SELECT p_partkey, upper(p_name) AS name_upper, length(p_name) AS n_chars,
           regexp_replace(p_name, ' ', '_', 'g') AS snake,
           concat_ws('|', p_brand, p_type) AS tag,
           substr(p_name, 1, 5) AS prefix,
           trim(p_name) AS trimmed
    FROM part
    """,
)
def u1_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 string surface: upper/length/regexp_replace/concat_ws/substr/trim
    — all codegen'd scalar expressions."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("n_chars"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.concat_ws("|", "p_brand", "p_type").alias("tag"),
        F.substring("p_name", 1, 5).alias("prefix"),
        F.trim(F.col("p_name")).alias("trimmed"),
    )


@_register(
    "dt1_date_buckets",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY 1, 2
    """,
)
def dt1_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 date/time surface: date_trunc/year bucketing (the reference has
    no dates; the fixture tables do — SURVEY.md §2.7)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "order_month"
        ),
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count("*").alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
    )


@_register(
    "g2_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def g2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 grouping combinations)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), _dec_sum(F.col("o_totalprice"), 2).alias("total_price")
    )


@_register(
    "w5_global_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def w5_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps + driver k-merge, never a full sort at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# M4 streaming (SURVEY.md §2.8) — real Structured Streaming runs whose final
# state a batch oracle can check
# ---------------------------------------------------------------------------


@_register(
    "st1_stream_window_agg",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type, count(*) AS n
    -- watermarks cannot admit NULL event times; the streaming window
    -- drops such rows (event-time family contract, r14)
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def st1_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a REAL streaming
    query (readStream→window→memory sink, availableNow); oracle = the batch
    GROUP BY twin."""
    from .streaming.pipelines import streaming_window_agg

    return streaming_window_agg(spark, sf_dir, window="1 hour")


@_register(
    "st8_stream_hopping_window",
    """
    WITH e AS (
      SELECT event_type,
             date_trunc('hour', ts)
               + CASE WHEN extract(minute FROM ts) >= 30
                      THEN INTERVAL '30' MINUTE
                      ELSE INTERVAL '0' MINUTE END AS s0
      -- NULL event times are dropped (event-time family contract, r14)
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, s0 AS ws FROM e
      UNION ALL
      SELECT event_type, s0 - INTERVAL '30' MINUTE FROM e
    )
    SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
           count(*) AS n
    FROM x GROUP BY 1, 2
    """,
)
def st8_stream_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked HOPPING-window aggregation as a REAL streaming query
    (readStream → window(1h, 30m) → memory sink, availableNow): each
    event expands into two overlapping windows map-side before the
    stateful shuffle — the streaming twin of batch `hop1`, sharing its
    2-way-UNION grid oracle. Completes the streaming window family:
    tumbling (st1), session (st5), hopping (this)."""
    from .streaming.pipelines import streaming_window_agg

    return streaming_window_agg(
        spark, sf_dir, window="1 hour", slide="30 minutes"
    )


@_register(
    "st2_stream_dedup",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def st2_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch idempotency: the stream unioned with itself, deduped by
    event_id within the watermark — final counts equal the single-copy
    batch counts (the retry-double-apply fix, SURVEY.md §2.8)."""
    from .streaming.pipelines import streaming_dedup_count

    return streaming_dedup_count(spark, sf_dir)


@_register(
    "st3_stream_stateful_counters",
    """
    SELECT user_id, count(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
)
def st3_stream_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running counters; after the availableNow pass the emitted state equals
    the batch GROUP BY — the in-engine twin of the reference's external
    counter store (makeRouter.js:104-124)."""
    from .streaming.pipelines import streaming_stateful_counters

    return streaming_stateful_counters(spark, sf_dir)


@_register(
    "st4_stream_stream_join",
    """
    SELECT a.user_id AS user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           CAST(round(b.value * 100) AS BIGINT) AS purchase_cents
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def st4_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds on both watermarked
    sides (click→purchase attribution within 10 minutes)."""
    from .streaming.pipelines import streaming_click_purchase_join

    return streaming_click_purchase_join(spark, sf_dir, horizon_minutes=10)


@_register(
    "st7_stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.event_type,
           CAST(round(e.value * 100) AS BIGINT) AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def st7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (round 6): the third streaming
    join shape next to st4 (stream-stream, state-store) and st6
    (foreachBatch MERGE) — zero streaming state, the dim re-broadcast per
    micro-batch. availableNow append must equal the batch join (the
    oracle)."""
    from .streaming.pipelines import streaming_static_enrichment

    return streaming_static_enrichment(spark, sf_dir)


@_register(
    "st5_stream_session_window",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      -- NULL event times are dropped (event-time family contract, r14)
      FROM events WHERE ts IS NOT NULL
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS BIGINT) AS session_end_us,
           user_id, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def st5_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (`session_window` + watermark): dynamic,
    data-dependent window extents that tumbling windows (st1) cannot
    express — the streaming twin of the batch sessionize (w3). The oracle
    is the gaps-and-islands batch restatement: a new session starts on a
    strictly-larger-than-gap silence (Spark merges adjacent [t, t+gap)
    ranges, boundary-probed in tests); session end = last event + gap."""
    from .streaming.pipelines import streaming_session_window

    return streaming_session_window(spark, sf_dir, gap="30 minutes")


@_register(
    "st6_stream_ingest_routing",
    """
    WITH raw AS (
      SELECT event_id, props,
             CASE WHEN event_id % 50 = 0 THEN 'bad'
                  WHEN event_id % 97 = 1 THEN 'empty'
                  ELSE 'ok' END AS kind
      FROM events
    )
    SELECT 'parsed' AS leg, count(*) AS n,
           CAST(SUM(CASE WHEN kind = 'ok'
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS k_sum
    -- coalesce: a NULL props row synthesizes a NULL raw body == ABSENT
    -- body, which takes the S3 '{}' default and PARSES (r14)
    FROM raw WHERE kind <> 'bad'
      AND NOT (kind = 'ok' AND coalesce(strlen(props), 0) > 5242880)
    UNION ALL
    SELECT 'invalid_json' AS leg, count(*) AS n, CAST(NULL AS BIGINT) AS k_sum
    FROM raw WHERE kind = 'bad'
    UNION ALL
    SELECT 'payload_too_large' AS leg, count(*) AS n,
           CAST(NULL AS BIGINT) AS k_sum
    FROM raw WHERE kind = 'ok' AND strlen(props) > 5242880
    """,
)
def st6_stream_ingest_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-ingest dead-letter chain as a REAL streaming query — what
    the reference's webhook endpoint actually is (one raw body per
    trigger, server.js:11-39). Same single-pass sanitize+parse+route
    projection as i1 inside a readStream; per-leg counts in complete
    mode; oracle = i1's batch SQL verbatim (availableNow over a static
    source must reproduce the batch answer exactly)."""
    from .streaming.pipelines import streaming_ingest_routing

    return streaming_ingest_routing(spark, sf_dir)


# ---------------------------------------------------------------------------
# M5 multimodal plumbing (SURVEY.md §2.10)
# ---------------------------------------------------------------------------


@_register(
    "mm1_media_metadata",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha256
    FROM documents
    """,
)
def mm1_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + typed metadata, computed natively (octet
    length + sha-256 over the payload bytes)."""
    from .multimodal.columns import attach_media_metadata, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_metadata(text_to_media(docs))
    return media.select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("payload_sha256"),
    )


@_register("mm2_media_decode")  # stub decode kernel: rows-only check
def mm2_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode stage over binary payloads (deterministic stub
    kernel — real plumbing: Arrow batches, typed output schema)."""
    from .multimodal.columns import decode_images, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    return decode_images(text_to_media(docs))


@_register(
    "mm3_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(LEAST(4, GREATEST(1, octet_length(encode(text)) // 64)) AS BIGINT)
             AS n_frames
    -- NULL payloads yield NO frames (the kernel's skip contract,
    -- multimodal/columns.py sample_frames) — mirror it, don't emit a
    -- NULL-count row (adversarial sim, r14)
    FROM documents WHERE text IS NOT NULL
    """,
)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage (1->N expansion inside mapInPandas); per-media
    frame counts are SQL-derivable from the payload length, so the Python
    expansion is oracle-checked end-to-end."""
    from .multimodal.columns import sample_frames, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(text_to_media(docs), every_n_bytes=64, max_frames=4)
    return frames.groupBy("media_id").agg(F.count("*").alias("n_frames"))


@_register("mm4_resize")  # stub resize kernel: rows-only check
def mm4_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over binary payloads (stub kernel, real Arrow plumbing);
    output carries source + target dims."""
    from .multimodal.columns import resize_images, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    return resize_images(text_to_media(docs), target=(32, 32)).drop("resized_bytes")


# hex-pair -> byte value, in pure ANSI string ops (DuckDB's sha256() returns
# lowercase hex; the stub kernels index raw digest BYTES)
def _hexbyte(n: int) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(hx, {2 * n + 1}, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(hx, {2 * n + 2}, 1)) - 1)"
    )


@_register(
    "mm2b_media_decode_oracle",
    f"""
    WITH h AS (
      SELECT doc_id AS media_id, 'image' AS media_type, sha256(text) AS hx
      FROM documents
    )
    -- NULL-text guard (mirrors ta5/sd1's): the stub kernel maps a NULL
    -- payload to the (0,0,0) dead-letter triple, while sha256(NULL) would
    -- leave width/height NULL with n_channels still 3
    SELECT media_id, media_type,
           CAST(CASE WHEN hx IS NULL THEN 0
                ELSE 64 + {_hexbyte(0)} % 192 END AS INTEGER) AS width,
           CAST(CASE WHEN hx IS NULL THEN 0
                ELSE 64 + {_hexbyte(1)} % 192 END AS INTEGER) AS height,
           CAST(CASE WHEN hx IS NULL THEN 0 ELSE 3 END AS INTEGER)
             AS n_channels
    FROM h
    """,
)
def mm2b_media_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mm2 decode stage under the value-hash gate: the stub kernel is
    sha256-derived byte arithmetic, which DuckDB can replay from the hex
    digest — so the Arrow mapInPandas round-trip itself (batch iteration,
    schema, int32 outputs) is oracle-certified, not just row-counted.
    Identical code path to mm2 (multimodal/columns.py decode_images)."""
    from .multimodal.columns import decode_images, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    return decode_images(text_to_media(docs))


def _duck_mm4_sql(tw: int = 32, th: int = 32) -> str:
    """DuckDB twin of the mm4 stub resize: output bytes are
    digest[(i*7) % 32] for i in 0..tw*th-1 — with gcd(7,32)=1 that is 32
    repetitions of one 32-byte permutation of the digest, assembled here
    as hex pairs and compared as Spark's ``hex()`` (uppercase) string."""
    pairs = "".join(
        f"substr(hx, {((i * 7) % 32) * 2 + 1}, 2) || " for i in range(32)
    ).rstrip(" |")
    reps = (tw * th) // 32
    return f"""
    WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents)
    -- NULL-text guard: the stub maps NULL payloads to (0, 0, b'') — see mm2b
    SELECT media_id,
           CAST(CASE WHEN hx IS NULL THEN 0
                ELSE 64 + {_hexbyte(0)} % 192 END AS INTEGER) AS width,
           CAST(CASE WHEN hx IS NULL THEN 0
                ELSE 64 + {_hexbyte(1)} % 192 END AS INTEGER) AS height,
           CAST({tw} AS INTEGER) AS target_width,
           CAST({th} AS INTEGER) AS target_height,
           CASE WHEN hx IS NULL THEN ''
                ELSE upper(repeat({pairs}, {reps})) END AS resized_hex
    FROM h
    """


@_register("mm4b_resize_oracle", _duck_mm4_sql())
def mm4b_resize_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mm4 resize stage under the value-hash gate (same construction
    as mm2b): the stub's byte-grid is a deterministic function of the
    payload digest, replayed in SQL as hex pairs; comparing the full
    hex-encoded 1024-byte grid certifies the binary column survives the
    Arrow round-trip byte-for-byte. Identical code path to mm4."""
    from .multimodal.columns import resize_images, text_to_media

    docs = load_table(spark, sf_dir, "documents")
    return resize_images(text_to_media(docs), target=(32, 32)).select(
        "media_id", "width", "height", "target_width", "target_height",
        F.hex("resized_bytes").alias("resized_hex"),
    )


# ---------------------------------------------------------------------------
# M2 ingest/dead-letter + classic multi-join analytics
# ---------------------------------------------------------------------------


@_register(
    "i1_ingest_dead_letter",
    """
    WITH raw AS (
      SELECT event_id, props,
             CASE WHEN event_id % 50 = 0 THEN 'bad'
                  WHEN event_id % 97 = 1 THEN 'empty'
                  ELSE 'ok' END AS kind
      FROM events
    )
    SELECT 'parsed' AS leg, count(*) AS n,
           CAST(SUM(CASE WHEN kind = 'ok'
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS k_sum
    -- coalesce: a NULL props row synthesizes a NULL raw body == ABSENT
    -- body, which takes the S3 '{}' default and PARSES (r14)
    FROM raw WHERE kind <> 'bad'
      AND NOT (kind = 'ok' AND coalesce(strlen(props), 0) > 5242880)
    UNION ALL
    SELECT 'invalid_json' AS leg, count(*) AS n, CAST(NULL AS BIGINT) AS k_sum
    FROM raw WHERE kind = 'bad'
    UNION ALL
    SELECT 'payload_too_large' AS leg, count(*) AS n,
           CAST(NULL AS BIGINT) AS k_sum
    FROM raw WHERE kind = 'ok' AND strlen(props) > 5242880
    """,
)
def i1_ingest_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S4 raw-ingest chain (server.js:11-39) end-to-end: NUL-strip + trim,
    empty-body -> '{}', permissive parse, dead-letter split. Synthesizes a
    raw webhook body per event (every 50th corrupted, every 97th blank, the
    rest the props JSON wrapped in whitespace + a NUL byte) and reports per-
    leg row counts + the parsed-field sum — the batch twin of 200-vs-400
    routing."""
    from pyspark.sql import types as T

    from .sources.ingest import ingest_with_reason

    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.when(F.col("event_id") % 50 == 0, F.lit("{bad"))
        .when(F.col("event_id") % 97 == 1, F.lit("  \x00"))
        .otherwise(F.concat(F.lit("  "), F.col("props"), F.lit("\x00 ")))
        .alias("raw_body"),
    )
    schema = T.StructType([T.StructField("k", T.LongType())])
    # single pass: routing as a column (one scan, one from_json), then a
    # tiny groupBy on the leg tag — the two-DataFrame split would re-run
    # the scan + parse subtree once per leg (audited: 2 scans -> 1).
    # The left join against the literal leg list preserves the output
    # contract (all three legs always present, n=0 when empty) that a
    # bare groupBy would drop — the oracle's ungrouped aggregates emit
    # every leg row even when it is empty. The list covers EVERY
    # reject_reason ingest_with_reason can emit; a leg missing here would
    # silently vanish from the counts (the sum would stop matching the
    # input row count), so keep it in sync with sources/ingest.py.
    tagged = ingest_with_reason(raw, schema)
    grouped = tagged.groupBy(
        F.coalesce("reject_reason", F.lit("parsed")).alias("leg")
    ).agg(F.count("*").alias("n"), F.sum("record.k").alias("k_sum"))
    legs = spark.createDataFrame(
        [("parsed",), ("invalid_json",), ("payload_too_large",)], "leg string"
    )
    return legs.join(grouped, "leg", "left").select(
        "leg", F.coalesce("n", F.lit(0)).alias("n"), "k_sum"
    )


@_register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS VARCHAR) AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join -> grouped revenue -> global top-10.
    customer is the small side (broadcast); the orders⋈lineitem join
    shuffles on the orderkey; the top-10 is a partial TakeOrdered, no global
    sort materialization."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("string").alias("o_orderdate")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@_register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, dims broadcast, one shuffle per
    fact-fact equi-join; Catalyst reorders the dim joins behind the
    broadcasts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_register(
    "j4_semi_anti_join",
    """
    -- EXISTS, not IN: `x NOT IN (set containing NULL)` is NULL, which
    -- silently DROPS every order-less customer the moment one order has
    -- a NULL custkey — Spark's left-anti join is null-safe NOT EXISTS
    -- (hostile-fixture sim, r14)
    SELECT c_custkey, TRUE AS has_order FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, FALSE AS has_order FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j4_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS): one shuffle each on
    the key; the semi/anti forms never materialize the probe side's payload
    columns."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").withColumn(
        "has_order", F.lit(True)
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").withColumn(
        "has_order", F.lit(False)
    )
    return semi.unionByName(anti)


@_register(
    "g3_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def g3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) with GROUPING() flags to
    disambiguate aggregation-null from data-null — one Expand + one
    aggregate, no re-scans."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@_register(
    "up1_unpivot",
    """
    SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    """,
)
def up1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): one Expand node, no re-scan per metric —
    the shape the process pipeline uses to turn counter columns into
    (id, counter, delta) rows."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("double"),
        F.col("p_size").cast("double"),
    ).unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "value")


@_register(
    "cs1_correlated_subquery",
    """
    SELECT p_partkey, p_type, p_size FROM part p
    WHERE p_size > (SELECT avg(p2.p_size) FROM part p2 WHERE p2.p_type = p.p_type)
    """,
)
def cs1_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (parts larger than their type's average):
    Catalyst decorrelates to an aggregate + join
    (RewriteCorrelatedScalarSubquery) — no per-row subquery execution.
    Integer avg keeps the comparison bit-exact across engines."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("__cs_part")
    return spark.sql(
        """
        SELECT p_partkey, p_type, p_size FROM __cs_part p
        WHERE p_size > (SELECT avg(p2.p_size) FROM __cs_part p2
                        WHERE p2.p_type = p.p_type)
        """
    )


@_register(
    "cd1_distinct_agg",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def cd1_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate alongside a plain count: Catalyst plans the
    two-phase distinct expansion (partial on (status, custkey), then merge)
    — no driver-side distinct."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@_register(
    "ga1_pandas_grouped_agg",
    """
    SELECT p_brand,
           CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT) * p_size) AS DOUBLE)
             / CAST(100 * SUM(p_size) AS DOUBLE) AS weighted_avg_price
    FROM part GROUP BY p_brand
    """,
)
def ga1_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas_udf (Arrow-batched Python aggregation —
    §2.9 surface): size-weighted mean price per brand. Integer-cents
    arithmetic inside the UDF keeps the result bit-identical to the SQL
    twin (int sums are exact; the final double division has identical
    operands on both engines)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.pandas.functions import PandasUDFType

    # functionType given explicitly: `from __future__ import annotations`
    # stringifies the hints, so signature inference can't see pd.Series.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_avg(price, size):
        # sign-aware SQL-round fold (half away from zero on BOTH signs,
        # non-finite refused loudly) — functions/money.py; pandas .round()
        # is half-to-even and diverges on exact .5 float ties (r13 find),
        # and the interim floor(x+0.5) diverged on negative ties (r14).
        # Absolute import: relative imports don't survive cloudpickle.
        from data_transform_make_spark.functions.money import money_round_units

        cents = money_round_units(price, 100)
        return float((cents * size).sum()) / float(100 * size.sum())

    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        weighted_avg("p_retailprice", "p_size").alias("weighted_avg_price")
    )


@_register(
    "pu1_scalar_pandas_udf",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT)
             * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) AS net_micros
    FROM lineitem
    """,
)
def pu1_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (Series→Series) pandas_udf — the remaining §2.9 surface:
    per-row discounted net price in integer micro-units, Arrow-batched.

    Exactness contract with the SQL twin: the sign-aware integer-unit fold
    (functions/money.py) equals SQL ``round`` — half away from zero — on
    BOTH signs, while pandas' own ``round`` is half-to-even; all downstream
    arithmetic is int64 — identical values on both engines. A real pipeline
    would keep this expression JVM-side (it's expressible as Columns); the
    entry exists to oracle-check the Arrow scalar-UDF path itself."""
    from pyspark.sql.functions import pandas_udf

    # hint-free signature -> SCALAR eval type (stringified annotations from
    # `from __future__ import annotations` would break hint resolution here)
    @pandas_udf("long")
    def net_micros(price, discount):
        # absolute import: relative imports don't survive cloudpickle
        from data_transform_make_spark.functions.money import money_round_units

        cents = money_round_units(price, 100)
        disc_bp = money_round_units(discount, 10000)
        return cents * (10000 - disc_bp)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_micros("l_extendedprice", "l_discount").alias("net_micros"),
    )


@_register(
    "w6_lag_lead",
    """
    SELECT user_id, event_id,
           coalesce(lag(event_type) OVER w, 'none') AS prev_type,
           lead(event_type) OVER w AS next_type
    FROM events
    -- NULLS FIRST: Spark's default asc NULL placement; DuckDB defaults
    -- to NULLS LAST, which reverses every lag/lead around a NULL-ts row
    -- (hostile-fixture sim, r14)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def w6_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead over an event-time window per user (the in-engine
    alternative to the reference's upstream-supplied Previous_Status,
    makeRouter.js:145 — SURVEY.md §2.8 ordering hazard). Total order via
    (ts, event_id) tie-break."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(F.lag("event_type").over(w), F.lit("none")).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@_register(
    "x2_explode_sequence",
    """
    SELECT o_orderkey,
           unnest(generate_series(1, CAST(o_orderkey % 4 + 1 AS BIGINT))) AS n
    FROM orders
    """,
)
def x2_explode_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array expansion: explode(sequence(...)) — the generator twin
    of the reference's subtable explode (T2, makeRouter.js:57,88); maps to
    DuckDB unnest(generate_series)."""
    o = load_table(spark, sf_dir, "orders")
    n_arr = F.sequence(
        F.lit(1).cast("long"), (F.col("o_orderkey") % 4 + 1).cast("long")
    )
    return o.select("o_orderkey", F.explode(n_arr).alias("n"))


@_register(
    "mf1_map_explode",
    """
    SELECT event_id, k AS prop_key,
           json_extract_string(props::JSON, '$."' || k || '"') AS prop_value
    FROM events, unnest(json_keys(props::JSON)) AS t(k)
    WHERE json_valid(props)
    """,
)
def mf1_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: permissive from_json into
    map<string,string> then explode to (key, value) rows — the engine's
    model for the reference's dynamic-key MetaData map (SURVEY.md §1.1,
    makeRouter.js:40-54). Spark's permissive from_json nulls malformed rows
    and explode drops them; the oracle's json_valid guard is the same
    drop. Keys are path-quoted in the twin so dotted keys don't descend."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "prop_key", "prop_value"
        ),
    )


@_register(
    "arr1_array_hofs",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0.1::DOUBLE)) AS BIGINT) AS n_above,
           CAST(list_max(embedding) AS DOUBLE) AS vmax,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def arr1_array_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column (filter/max/
    size — all JVM-side expressions, no UDF): per-vector element stats.
    Exact cross-engine: comparisons and max promote float->double
    identically; no float summation."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > F.lit(0.1))).cast("long").alias("n_above"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.size("embedding").cast("long").alias("dim"),
    )


@_register(
    "pc1_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pc1_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group. l_quantity is
    integral, interpolation fractions are exact binary (0.25/0.5/0.75), so
    both engines produce identical doubles. At 100 TB swap percentile ->
    approx_percentile (t-digest, map-side mergeable) — same API shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.50).alias("p50"),
        F.percentile("l_quantity", 0.75).alias("p75"),
    )


@_register(
    "mo1_moment_aggs",
    """
    SELECT l_returnflag, n, var_qty, sqrt(var_qty) AS stddev_qty
    FROM (
      SELECT l_returnflag, count(*) AS n,
             CAST(CAST(count(*) AS DECIMAL(38,0))
                    * SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
                  - SUM(CAST(l_quantity AS DECIMAL(38,0))) * SUM(CAST(l_quantity AS DECIMAL(38,0)))
                  AS DOUBLE)
               / CAST(count(*) * (count(*) - 1) AS DOUBLE) AS var_qty
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def mo1_moment_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev via exact integer moments (n, Σx, Σx²) then
    one double division + sqrt — bit-identical across engines (native
    stddev_samp uses incremental merge whose rounding is engine-specific).
    The moment sums are map-side combinable: one shuffle at any scale.
    Moments accumulate in DECIMAL(38,0), not int64: n·Σx² crosses 2^63
    around 2·10⁸ rows per group (~sf100), which would abort under ANSI
    mode or wrap silently without it."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q.cast(dec)).alias("__sx"),
        F.sum((q * q).cast(dec)).alias("__sxx"),
    )
    var = (
        (F.col("n").cast(dec) * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    return m.select(
        "l_returnflag",
        "n",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


@_register(
    "q6_filter_agg",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + global agg.
    All four predicates reach PushedFilters (parquet row-group skipping);
    integer-cents product keeps the revenue sum exact."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents * disc_pct).cast("double") / F.lit(1000000.0)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@_register(
    "h1_having",
    """
    SELECT o_custkey, count(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_spend
    FROM orders GROUP BY o_custkey HAVING count(*) >= 8
    """,
)
def h1_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate): repeat customers.
    The HAVING filter runs on the aggregated side of the shuffle — no
    second pass over the fact table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100.0).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@_register(
    "sp1_hash_split",
    """
    SELECT CASE WHEN @MULHASH_SPLIT@ < 3435973837
                THEN 'train' ELSE 'eval' END AS split,
           lang, count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def sp1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split by multiplicative hash of the doc id —
    the training-pipeline assignment that must be stable across runs,
    engines, and repartitions (unlike sample()/TABLESAMPLE). Pure int64
    arithmetic → bit-identical everywhere; map-only, no shuffle before the
    small count agg. The 80% cut is the shared integer literal
    SPLIT_TRAIN_CUT (plans/training_corpus.py) — float-derived thresholds
    differ by one between Python truncation and SQL rounding."""
    from .plans.training_corpus import hash_split

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(hash_split("doc_id").alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


@_register(
    "agg1_ordered_collect",
    """
    SELECT user_id,
           -- NULLS FIRST mirrors Spark struct sort (NULL fields smallest)
           string_agg(event_type, ',' ORDER BY ts NULLS FIRST, event_id) AS type_seq,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def agg1_ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sequence assembly per key (events -> training sequence):
    collect_list of (ts, event_id, type) structs, array_sort for a
    deterministic order under any partitioning, project + join to CSV.
    One shuffle on user_id; the sort is per-group, bounded by session
    length at scale."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        ",",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("type_seq"), F.count("*").alias("n_events")
    )


@_register(
    "w7_ntile",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber,
           ntile(4) OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber)
             AS quartile
    FROM lineitem
    """,
)
def w7_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing (feature binning) via ntile over a total order —
    SQL-standard bucket arithmetic is engine-independent given the order."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", F.ntile(4).over(w).alias("quartile")
    )


@_register("cr1_compression_ratio")  # zlib has no SQL twin: rows-only by
# nature (the mm-stub class); the KERNEL is certified exactly — the unit
# test compares every ratio to a direct python-zlib reference
def cr1_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (functions/text.py
    compression_ratio): the fourth classic web-curation gate next to
    ta3's length/punct/stopword score, ta5's repetition stats and lm1's
    unigram LM score — repetitive/templated text compresses below ~0.4,
    natural prose ~0.5-0.7, random noise approaches 1.0, so one number
    flags both failure modes. Arrow-batched pandas_udf (one C zlib call
    per doc per batch, no per-row Python dispatch) — map-only, scan-speed
    bound at 100 TB; level=1 trades ~3x scan throughput for the same
    gate ordering. Output bucketed to a per-band count report so the
    driver row is stable and small. The ratio is PROJECTED ONCE into a
    named column and the CASE bands over that attribute — four WHEN
    branches each re-referencing the pandas_udf expression would zlib
    every document up to 4x if UDF subtree deduplication declined to
    collapse them (advice, round 6); tests/test_text_ops.py
    (TestCompressionRatio::test_cr1_plan_evaluates_udf_once) pins
    the plan to a single ArrowEvalPython evaluation."""
    from .functions.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    ratio = F.col("ratio")
    return (
        docs.select(compression_ratio("text").alias("ratio"))
        .select(
            F.when(ratio < 0.3, F.lit("templated"))
            .when(ratio < 0.45, F.lit("repetitive"))
            .when(ratio < 0.75, F.lit("prose"))
            .when(ratio.isNotNull(), F.lit("noise"))
            .otherwise(F.lit("empty"))
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register("apx1_sketch_aggs")  # sketch results are estimate-valued: rows-only
def apx1_sketch_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact distinct/
    percentile: HyperLogLog++ (approx_count_distinct, mergeable, fixed
    memory) and t-digest (approx_percentile). No SQL twin (estimates are
    engine-specific); tests/test_sketches.py bounds the error against the
    exact values."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey").alias("apx_customers"),
        F.approx_percentile("o_totalprice", 0.5, 10000).alias("apx_median_price"),
    )


# One dialect-common SQL text, executed verbatim by BOTH engines — the
# engine's raw-SQL surface (spark.sql over registered fixture views).
_SQL1 = """
    SELECT n.n_name AS nation, o.o_orderstatus AS status,
           count(*) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, o.o_orderstatus
    HAVING count(*) > 50
"""


# Shared by the Spark query AND the DuckDB twin verbatim (both engines
# implement standard WITH RECURSIVE): depth of every supplier in the
# synthetic id-halving forest parent(id) = floor(id/2), id >= 1 — the
# smallest total order that exercises anchor + recursive step + cycle-free
# termination. Depth is O(log n): each recursion level is ONE hash join
# of the frontier (the nodes at that depth) against the parent map, so at
# 100 TB this runs log2(n) ~ 40 bounded joins, frontier rows only.
_RC1 = """
    WITH RECURSIVE chain(s_suppkey, depth) AS (
      SELECT s_suppkey, 1 AS depth FROM supplier WHERE s_suppkey <= 1
      UNION ALL
      SELECT s.s_suppkey, c.depth + 1
      FROM supplier s JOIN chain c
        -- floor, not a bare CAST of the double quotient: double->int
        -- casts TRUNCATE in Spark but round-half-even in DuckDB
        ON CAST(floor(s.s_suppkey / 2) AS BIGINT) = c.s_suppkey
      WHERE s.s_suppkey > 1
    )
    SELECT s_suppkey, depth FROM chain
"""


@_register("rc1_recursive_hierarchy", _RC1)
def rc1_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): per-node depth in a
    synthetic parent = floor(id/2) hierarchy over supplier ids — the
    org-chart/BOM traversal shape SQL recursion exists for, exercised
    through ``spark.sql`` so the engine's SQL surface covers iteration
    without hand-rolled driver loops. The IDENTICAL statement is the
    DuckDB oracle (both engines implement the standard); integer depths,
    so the comparison is exact. Each recursion level is one
    frontier-vs-parent-map hash join — depth log2(n), never a closure
    materialization (the CC operator remains the production path for
    component-finding; this certifies the SQL-recursion surface).
    Scale caveat (review, late r6): Spark caps ACCUMULATED recursive
    output via spark.sql.cteRecursionRowLimit — 1M rows by default,
    which a hierarchy over a >1M-row table exceeds even at log depth;
    the engine session raises it to 2^31-1 (session.py), and on a
    vanilla session this query is fixture-scale only."""
    from .sources.loader import register_views

    register_views(spark, sf_dir, ("supplier",))
    return spark.sql(_RC1)


@_register(
    "gf1_calendar_gap_fill",
    """
    WITH bounds AS (
      SELECT CAST(min(date_trunc('day', o_orderdate)) AS DATE) AS d0,
             CAST(max(date_trunc('day', o_orderdate)) AS DATE) AS d1
      FROM orders
    ), days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL '1' DAY)) AS DATE)
               AS day
      FROM bounds
    ), per_day AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT CAST(days.day AS VARCHAR) AS day,
           CAST(coalesce(per_day.n, 0) AS BIGINT) AS n_orders
    FROM days LEFT JOIN per_day ON days.day = per_day.day
    """,
)
def gf1_calendar_gap_fill(
    spark: SparkSession, sf_dir: str, eager: bool = True
) -> DataFrame:
    """Time-series gap fill: a CONTINUOUS calendar over the order-date
    range with zero-filled counts — dashboards and window functions both
    break on missing days, so materializing the dense axis is a core
    time-series op. Spark-first shape (tightened in the late-r6 review):
    the fact table is scanned ONCE — the map-side-combined per-day
    aggregate is localCheckpoint'd at O(days) rows, and BOTH the bounds
    (min/max day derive from the aggregate, not from a second fact scan)
    and the fill join read that checkpoint. The axis is
    ``sequence(d0, d1, interval 1 day)`` + ``explode`` — generated,
    never stored — and the join BROADCASTS THE COUNTS (the axis is the
    row-preserving side of the left join, which Spark cannot broadcast —
    a hint there is silently dropped; the aggregate side is equally
    O(days) and BuildRight-legal). No driver loop, no recursion for a
    regular series."""
    orders = load_table(spark, sf_dir, "orders")
    per_day = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    if eager:
        # one fact scan total: the tiny aggregate is materialized once
        # and re-read by both consumers (bounds + fill join); a plain
        # two-consumer lineage would re-scan orders per consumer.
        # eager=False (the d3/dec1/ll* audit convention) keeps the
        # identical composed plan fully lazy so the EXPLAIN audit sees
        # the real join/broadcast shapes instead of one Scan ExistingRDD.
        per_day = per_day.localCheckpoint(eager=True)
    bounds = per_day.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day")
    )
    return days.join(F.broadcast(per_day), "day", "left").select(
        F.col("day").cast("string").alias("day"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
    )


@_register("sql1_raw_sql", _SQL1)
def sql1_raw_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ANSI-SQL entry point: the exact oracle SQL string runs through
    ``spark.sql`` over registered fixture views — demonstrating the SQL
    surface is first-class, not just the DataFrame API. Catalyst plans it
    identically to the DataFrame twin (dims broadcast, agg two-phase)."""
    from .sources.loader import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(_SQL1)


@_register(
    "ll1_training_corpus",
    r"""
    WITH quality AS (
      SELECT * FROM documents
      WHERE ((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0
                    ELSE CAST(len(text) - len(regexp_replace(text,
                         '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END)
                  <= 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(@TOKENS(text)@) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(@TOKENS(text)@, t -> t IN ('the','a','an','of','and','to','in','is','it','that')))
                         AS DOUBLE)
                         / len(@TOKENS(text)@) END)
                  >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.66
    ), exact AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t FROM exact
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), drops AS (
      SELECT DISTINCT id_b AS doc_id
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    ), kept AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    )
    SELECT CASE WHEN @MULHASH_SPLIT@ < 3435973837
                THEN 'train' ELSE 'eval' END AS split,
           lang, count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
             AS BIGINT) AS n_tokens
    FROM kept GROUP BY 1, 2
    """,
)
def ll1_training_corpus(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """Flagship composite: the full LLM data-curation pipeline — quality
    gate -> exact dedup -> near-dup removal -> deterministic split ->
    corpus stats (plans/training_corpus.py). Every stage is a tested
    operator; the oracle twin re-states the whole chain as CTEs."""
    from .plans.training_corpus import build_training_corpus

    return build_training_corpus(load_table(spark, sf_dir, "documents"), eager=eager)


@_register(
    "udtf1_lateral_tokenize",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), zz -> zz <> '') AS t
      FROM documents WHERE len(trim(text)) > 0
    )
    SELECT doc_id, t[i] AS token, CAST(i - 1 AS INT) AS position,
           t[i] ~ '^[0-9]+$' AS is_numeric
    FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    """,
)
def udtf1_lateral_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.9): row-yielding table function applied via
    LATERAL — the imperative 1->N escape hatch (the reference's
    transformToSimpleRecords shape, makeRouter.js:56-75, when explode can't
    express the expansion). Slow path by design; the oracle twin shows this
    particular expansion IS SQL-expressible — the entry exists to pin the
    UDTF machinery, not to recommend it over explode."""
    from .functions.udtfs import TokenizeUDTF
    from .sources.loader import register_views

    register_views(spark, sf_dir, ("documents",))
    spark.udtf.register("tokenize", TokenizeUDTF)
    return spark.sql(
        "SELECT d.doc_id, t.token, t.position, t.is_numeric "
        "FROM documents d, LATERAL tokenize(d.text) t"
    )


@_register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — planned as a left-semi join
    (one shuffle on the order key; the lineitem side is pre-filtered by the
    correlated predicate before the join, so no decorrelation blowup)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@_register(
    "dc1_dedup_clusters",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u AS u, e.v AS v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u
    )
    SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def dc1_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the exact
    d2 n-gram-Jaccard pair graph — the step a curation pipeline needs
    after pair generation (keep one doc per *cluster*; pairs alone
    under-merge chained duplicates A~B~C). Iterative min-label
    propagation + pointer jumping (O(log diameter) rounds, one keyed
    shuffle + two id-joins per round — operators/graph.py); the DuckDB
    twin computes the same fixpoint as a recursive-CTE transitive
    closure, which is only feasible at oracle scale."""
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@_register(
    "dc2_dedup_clusters_capped",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), hot AS (
      SELECT sh AS hsh FROM sh GROUP BY sh HAVING count(*) > 5
    ), cold AS (
      SELECT s.doc_id, s.sh FROM sh s LEFT JOIN hot h ON s.sh = h.hsh
      WHERE h.hsh IS NULL
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u AS u, e.v AS v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u
    )
    SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def dc2_dedup_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dc1's cluster assignment over the CAPPED candidate set — the
    production wiring at 100 TB: the hot-shingle valve (d2b, max_df=5)
    feeds connected components, so no posting list ever contributes a
    quadratic pair blow-up upstream of the cluster step. Dropping
    candidate edges can only SPLIT clusters (capped drop set ⊆ exact drop
    set — property-tested); the oracle folds the same cap into dc1's
    recursive-CTE closure, so the entire capped chain is hash-checked
    end-to-end."""
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.2, max_df=5
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@_register(
    "dec1_decontamination",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN @MULHASH_SPLIT@ < 3435973837
                  THEN 'train' ELSE 'eval' END AS split,
             @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, split, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE split = 'eval'
    ), tr AS (
      SELECT doc_id, sh FROM sh WHERE split = 'train'
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id
    ), shared AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM tr t JOIN ev e ON t.sh = e.sh GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_shared,
           CAST(s.n_shared AS DOUBLE) / CAST(z.n AS DOUBLE) AS contamination
    FROM shared s JOIN sizes z ON s.doc_id = z.doc_id
    """,
)
def dec1_decontamination(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """Train/eval contamination report: train-split docs sharing any
    distinct 3-gram with the eval split (the published n-gram-overlap
    decontamination recipe, set-oriented: one shingle equi-join against
    the eval vocabulary instead of per-doc scans —
    plans/training_corpus.py)."""
    from .plans.training_corpus import decontamination_report

    docs = load_table(spark, sf_dir, "documents")
    return decontamination_report(docs, "doc_id", "text", shingle_n=3, eager=eager)


@_register(
    "ch1_doc_chunks",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
      WHERE len(trim(text)) > 0
    )
    SELECT doc_id,
           CAST((u.i - 1) // 48 AS INTEGER) AS chunk_idx,
           array_to_string(t[u.i : u.i + 63], ' ') AS chunk_text,
           len(t[u.i : u.i + 63]) AS n_tokens
    FROM toks, UNNEST(generate_series(1, len(t), 48)) AS u(i)
    """,
)
def ch1_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows at stride 48 (16-token
    overlap) — map-only generator expressions, no shuffle
    (operators/chunking.py)."""
    from .operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_size=64, stride=48)


@_register(
    "d6_editdist_recheck",
    r"""
    WITH toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    )
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    """,
)
def d6_editdist_recheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance re-ranking of near-dup candidate pairs: the exact
    n-gram Jaccard pairs (d2) re-scored with character-level Levenshtein
    — the precision pass a curation pipeline runs on the (tiny) candidate
    set, never on the corpus. Shape: the expensive O(len²) distance is
    computed on |pairs| rows only, texts re-attached by two narrow
    id-keyed joins; both engines implement classic Levenshtein, so the
    integer distances hash-match exactly. ``editdist_rerank`` takes ANY
    precomputed (id_a, id_b) frame — the capped d2b or LSH candidates at
    100 TB; here the exact d2 pairs so the oracle can twin it."""
    from .operators.dedup import editdist_rerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)
    return editdist_rerank(docs, pairs, "doc_id", "text")


@_register(
    "sk1_salted_join",
    """
    SELECT s_nationkey, count(*) AS n_items, SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def sk1_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join, oracle-checked against the plain join:
    ``salted_join`` splits declared hot keys across 8 salt values (hot
    large-side rows get a random salt; hot small-side rows replicate once
    per salt) while cold keys take the ordinary join — the oracle is the
    *unsalted* SQL join, so the hash match proves the salting is
    semantics-free. At 100 TB this is the explicit valve for the handful
    of keys AQE's skew splitting can't fix (operators/skew.py); the hot
    list here is a static literal — production callers feed
    ``hot_keys()`` output."""
    from .operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, s, "l_suppkey", hot=[1, 2, 3], n_salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty")
    )


@_register(
    "w8_percent_rank",
    """
    SELECT c_custkey, c_nationkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w8_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist) under a
    total order — (acctbal, custkey) is unique, so cross-engine row picks
    cannot diverge. One shuffle on the partition key; both functions are
    exact integer-ratio doubles, so the hash match is stable."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@_register(
    "ll2_training_corpus_clustered",
    r"""
    WITH RECURSIVE quality AS (
      SELECT * FROM documents
      WHERE ((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0
                    ELSE CAST(len(text) - len(regexp_replace(text,
                         '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END)
                  <= 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(@TOKENS(text)@) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(@TOKENS(text)@, t -> t IN ('the','a','an','of','and','to','in','is','it','that')))
                         AS DOUBLE)
                         / len(@TOKENS(text)@) END)
                  >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.66
    ), exact AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t FROM exact
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u AS u, e.v AS v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u
    ), drops AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) < u
    ), kept AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    )
    SELECT CASE WHEN @MULHASH_SPLIT@ < 3435973837
                THEN 'train' ELSE 'eval' END AS split,
           lang, count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
             AS BIGINT) AS n_tokens
    FROM kept GROUP BY 1, 2
    """,
)
def ll2_training_corpus_clustered(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """The ll1 curation pipeline with the published-standard near-dup
    policy: connected components over the pair graph, keep one doc (the
    min id) per cluster — transitive chains A~B~C collapse to one kept
    doc even when A~C falls below the threshold, where ll1's greedy
    per-pair drop keeps both ends of an un-paired chain. The oracle
    re-states the whole chain as CTEs with the cluster step as a
    recursive-CTE transitive closure (plans/training_corpus.py,
    operators/graph.py)."""
    from .plans.training_corpus import build_training_corpus_clustered

    return build_training_corpus_clustered(
        load_table(spark, sf_dir, "documents"), eager=eager
    )


@_register(
    "ll3_training_corpus_capped",
    r"""
    WITH RECURSIVE quality AS (
      SELECT * FROM documents
      WHERE ((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0
                    ELSE CAST(len(text) - len(regexp_replace(text,
                         '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END)
                  <= 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(@TOKENS(text)@) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(@TOKENS(text)@, t -> t IN ('the','a','an','of','and','to','in','is','it','that')))
                         AS DOUBLE)
                         / len(@TOKENS(text)@) END)
                  >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.66
    ), exact AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, @TOKENS(text)@ AS t FROM exact
    ), sh AS (
      SELECT DISTINCT doc_id, u.sh
      FROM toks, UNNEST([array_to_string(t[i : i + 2], ' ')
                         FOR i IN generate_series(1, GREATEST(len(t) - 2, 1))]) AS u(sh)
      WHERE len(t) > 0  -- a no-token doc must emit NO shingle (engine shingles() k>0 guard; r14)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), hot AS (
      SELECT sh AS hsh FROM sh GROUP BY sh HAVING count(*) > 5
    ), cold AS (
      SELECT s.doc_id, s.sh FROM sh s LEFT JOIN hot h ON s.sh = h.hsh
      WHERE h.hsh IS NULL
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u AS u, e.v AS v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u
    ), drops AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) < u
    ), kept AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    )
    SELECT CASE WHEN @MULHASH_SPLIT@ < 3435973837
                THEN 'train' ELSE 'eval' END AS split,
           lang, count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
             AS BIGINT) AS n_tokens
    FROM kept GROUP BY 1, 2
    """,
)
def ll3_training_corpus_capped(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """The ll2 cluster-exact curation pipeline in its PRODUCTION posture:
    the hot-shingle valve (max_df=5, the d2b cap) feeds the connected-
    components step, so candidate generation is bounded even when
    templated text makes shingle document-frequencies quadratic-hostile.
    Capped candidates can only split clusters, so the kept corpus is a
    superset of ll2's (property-tested in tests/test_curation_ops.py);
    the oracle folds the cap into ll2's recursive-CTE chain, hash-
    checking the full capped quality→dedup→cluster→split→stats pipeline
    (plans/training_corpus.py max_df/pairs injection)."""
    from .plans.training_corpus import build_training_corpus_clustered

    return build_training_corpus_clustered(
        load_table(spark, sf_dir, "documents"), max_df=5, eager=eager
    )


# ---------------------------------------------------------------------------
# Driver certification window
# ---------------------------------------------------------------------------
# The external driver oracle-checks the FIRST 50 keys of queries() in dict
# order; everything past the window only runs in the local full simulator
# (tools/driver_sim.py checks all entries every session). With 109 entries
# the window is rotated round-over-round so every query accumulates a
# driver-certified CORRECTNESS row; tests/test_driver_window.py checks that
# each rotation fronts the stalest keys and keeps the core anchors.
# Rotation changes only dict order, never keys or query bodies.
#
# The round whose driver run certifies this window: the window test folds
# only the CORRECTNESS files of earlier rounds.
_DRIVER_WINDOW_ROUND = 20
_DRIVER_WINDOW = [
    # core anchors (certified every round)
    "p1_status_gate",
    "p4_first_wins_dedup",
    "i1_ingest_dead_letter",
    "j1_lookup_join",
    "a1_a2_order_counter_deltas",
    "q1_pricing_summary",
    "st1_stream_window_agg",
    # (a) the 16 r17-stale keys (the r19 hand-off list, verified)
    "q5_local_supplier_volume",
    "rc1_recursive_hierarchy",
    "s1_set_ops",
    "samp1_stratified_sample",
    "sd1_substring_dup_report",
    "sql1_raw_sql",
    "t5_falsy_defaults",
    "t7_js_parse_int",
    "ta1_text_stats",
    "ta2_lang_id",
    "up1_unpivot",
    "w3_sessionize",
    "w6_lag_lead",
    "w7_ntile",
    "x1_json_extract",
    "x2_explode_sequence",
    # (b) alphabetically-first 27 of the 43 r18-latest keys
    "a3_insufficient_stock",
    "a4_a6_status_transitions",
    "a5_counter_pivot",
    "agg1_ordered_collect",
    "arr1_array_hofs",
    "bm25_1_query_ranking",
    "cd1_distinct_agg",
    "cr1_compression_ratio",
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d5c_embedding_near_dup_lsh_planted",
    "d5d_embedding_lsh_oracle",
    "d6_editdist_recheck",
    "dc1_dedup_clusters",
    "dc2_dedup_clusters_capped",
    "dec1_decontamination",
    "dq1_column_profile",
    "dt1_date_buckets",
    "g1_rollup",
    "g2_cube",
    "g3_grouping_sets",
    "gf1_calendar_gap_fill",
    "h1_having",
    "j2_as_of_join",
    "j3_range_join",
    "j4_semi_anti_join",
    "ll1_training_corpus",
]


def _window_ordered(d: dict) -> dict:
    ordered = {k: d[k] for k in _DRIVER_WINDOW if k in d}
    ordered.update((k, v) for k, v in d.items() if k not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    return _window_ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _window_ordered(_ORACLES)


# Expand the shared mulhash placeholders (see _duck_mulhash32): keeps the
# overflow-safe decomposition in ONE place across the engine expression
# and all six SQL twins.
# single source: the same engine constants drive the SQL twins — a
# multiplier change in plans/training_corpus.py cannot silently leave
# the oracles computing the old hash
_MULHASH_SPLIT_SQL = _duck_mulhash32("doc_id", SPLIT_MULT)
_MULHASH_MIX_SQL = _duck_mulhash32("doc_id", MIX_MULT)
# @JS_WS@: the exact JS-parseInt whitespace class (functions/js_compat.py
# JS_WS — single source), injected as literal characters into the RE2
# twin so the oracle and the engine skip the identical set.
from .functions.js_compat import JS_WS as _JS_WS  # noqa: E402

for _name in list(_ORACLES):
    _ORACLES[_name] = (
        _ORACLES[_name]
        .replace("@MULHASH_SPLIT@", _MULHASH_SPLIT_SQL)
        .replace("@MULHASH_MIX@", _MULHASH_MIX_SQL)
        .replace("@JS_WS@", _JS_WS)
        .replace("@TOKENS(text)@", _duck_tokens("text"))
        .replace("@TOKENS(t)@", _duck_tokens("t"))
    )
