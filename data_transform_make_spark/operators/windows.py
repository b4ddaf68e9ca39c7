"""Window-function operators: top-k per group, sessionization, transitions
(SURVEY.md §2.6, §2.8).

The reference has no window functions; the engine exposes Spark's natively.
Every helper here is a single shuffle on its partition key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cols import claim_scratch


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: Column,
    k: int,
    two_phase: bool = False,
) -> DataFrame:
    """Top-k rows per group: rank over a window, keep rank <= k.

    Default: one shuffle on group_cols + in-partition sort; the window sort
    is bounded per group (no global sort). That serializes to one reducer
    task *per group value* — fine when groups are numerous, pathological
    when a handful of huge groups each funnel through a single task.

    ``two_phase=True`` (use when group cardinality ≪ cluster parallelism):
    phase 1 ranks within (group, input-partition) — the big shuffle spreads
    over (|groups| × input partitions) reducers — and keeps ≤ k rows per
    slice; any row outside a slice's top-k is dominated by k same-group rows
    globally, so pruning is lossless under a total order. Phase 2 re-ranks
    the ≤ k × partitions survivors per group — a negligible second shuffle.
    Results are identical to the one-phase plan whenever ``order_col`` is a
    total order (the same precondition one-phase determinism needs anyway).
    """
    if k < 1:
        # the nprobe/radius class (round 9): top-0-per-group is a
        # silently-empty result, not a cheaper query
        raise ValueError(f"top_k_per_group: k must be >= 1, got {k!r}")
    # rank_in_group is the documented ADDED column on a pass-through
    # frame — replacing a caller's same-named column is the ingest
    # record/reject_reason silent-loss class (review, round 13)
    claim_scratch(df, "top_k_per_group", "rank_in_group")
    if two_phase:
        claim_scratch(df, "top_k_per_group(two_phase)", "__pid", "__lrn")
        local_w = Window.partitionBy(*group_cols, "__pid").orderBy(order_col)
        df = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__lrn", F.row_number().over(local_w))
            .filter(F.col("__lrn") <= k)
            .drop("__pid", "__lrn")
        )
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def sessionize(
    df: DataFrame, key_cols: list[str], ts_col: str, gap_seconds: int
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the previous
    event (per key) exceeds ``gap_seconds``.

    lag + conditional cumsum — the batch twin of streaming
    ``session_window``; one shuffle on the key.
    Adds ``session_id`` (1-based per key).

    NULL-``ts`` rows are DROPPED (r14): an event without an event time
    has no position in any session, and the streaming twin is forced to
    the same semantics (a watermark cannot admit a NULL event time —
    ``session_window`` drops such rows). Keeping them would also leave
    their placement engine-defined: Spark orders NULL first in the
    window, DuckDB last, so the lag chains — and every session id after
    the NULL — would silently diverge between the engine and any SQL
    restatement. The batch/streaming/SQL triple agrees only under the
    drop contract; pinned by the hostile-fixture sim
    (tools/adversarial_sim.py).
    """
    if gap_seconds < 0:
        # gap is always >= 0 (the window is time-ordered), so a negative
        # threshold silently fractures EVERY row into its own session —
        # degenerate output, not a tighter gap (review, round 10;
        # gap_seconds=0 is meaningful: equal-ts events share a session)
        raise ValueError(
            f"sessionize: gap_seconds must be >= 0, got {gap_seconds!r}"
        )
    df = df.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col))
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
