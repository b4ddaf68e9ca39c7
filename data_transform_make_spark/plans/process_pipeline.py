"""Process (bag-movement) pipeline — Spark restatement of the reference's
``POST /wattsbags/process-webhook`` handler (makeRouter.js:136-212; SURVEY.md §3.2).

Reference shape (per event): filter no-op transitions → require
inventory_id → GET inventory → build update {prev_col-1, curr_col+1,
qty_completed+1 if Complete} → PUT.

Exact semantics preserved, including the stale-read clobber: when
previous and current status map to the SAME counter column (e.g.
'Sewer Assigned' → 'With Sewer', both qty_sewer), the reference's update
object overwrites the decrement with increment computed from the same stale
GET — net effect **+1**, not 0 (makeRouter.js:179-189). The engine's delta
rule replicates this:
    curr_col mapped                                → curr_col += 1
    prev_col mapped AND prev_col != curr_col       → prev_col -= 1
    curr_status == 'Complete'                      → qty_completed += 1

Batch semantics: the reference re-GETs between events, so consecutive events
on one inventory_id accumulate — identical to summing per-event deltas,
which is what the groupBy below does (map-side combined, one shuffle).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# makeRouter.js:164-176 — N:1 status → counter-column dictionary.
STATUS_MAP: dict[str, str | None] = {
    "Office": "qty_office",
    "Warehouse": "qty_warehouse",
    "Art": "qty_art",
    "Cutting": "qty_embroidery",
    "Need Sewer Assigned": "qty_sewer",
    "Sewer Assigned": "qty_sewer",
    "Sewer Pickup": "qty_sewer",
    "With Sewer": "qty_sewer",
    "Embroidery": "qty_embroidery",
    "Complete": None,
}

COUNTER_COLS = ("qty_office", "qty_warehouse", "qty_art", "qty_embroidery", "qty_sewer")


class ProcessPipelineResult(NamedTuple):
    updated_inventory: DataFrame
    dead_letter: DataFrame  # events with no inventory_id (the 500 path)


def _status_col_expr(status_col):
    """statusMap[status] as a broadcast-free literal map lookup (A6)."""
    pairs = []
    for k, v in STATUS_MAP.items():
        if v is not None:
            pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)[status_col]


def filter_transitions(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P5 no-op filter + P6 missing-key split (makeRouter.js:149-157).

    JS falsiness on previous_status/inventory_id: null or '' both skip/throw.
    """
    from ..functions.js_compat import js_str_falsy

    live = events.filter(
        ~js_str_falsy(F.col("previous_status"))
        & (F.col("previous_status") != F.col("status"))
    )
    dead = live.filter(js_str_falsy(F.col("inventory_id"))).withColumn(
        "reject_reason", F.lit("missing_inventory_id")
    )
    good = live.filter(~js_str_falsy(F.col("inventory_id")))
    return good, dead


def transition_deltas(events: DataFrame) -> DataFrame:
    """Melt each event into (inventory_id, counter_col, delta) rows applying
    the clobber-exact rule, then sum per (inventory_id, counter_col).

    Output: one row per inventory_id with one summed delta column per
    counter (pivot on a fixed, known column set — no dynamic pivot scan).
    """
    prev_col = _status_col_expr(F.col("previous_status"))
    curr_col = _status_col_expr(F.col("status"))
    melted = events.select(
        "inventory_id",
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        prev_col.isNotNull() & ~(prev_col.eqNullSafe(curr_col)),
                        F.struct(prev_col.alias("col"), F.lit(-1).alias("d")),
                    ),
                    F.when(
                        curr_col.isNotNull(),
                        F.struct(curr_col.alias("col"), F.lit(1).alias("d")),
                    ),
                    F.when(
                        F.col("status") == "Complete",
                        F.struct(F.lit("qty_completed").alias("col"), F.lit(1).alias("d")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("kv"),
    ).select("inventory_id", F.col("kv.col").alias("counter"), F.col("kv.d").alias("d"))
    summed = melted.groupBy("inventory_id").pivot(
        "counter", list(COUNTER_COLS) + ["qty_completed"]
    ).sum("d")
    return summed


def process_webhook_pipeline(events: DataFrame, inventory: DataFrame) -> ProcessPipelineResult:
    """Full §3.2 pipeline: events + inventory -> (post-state, dead-letter).

    The merge reads counters with ``parseInt(value || 0)`` semantics — NULL
    counters start at 0 (makeRouter.js:181,186,191).
    """
    good, dead = filter_transitions(events)
    deltas = transition_deltas(good)
    renamed = deltas.select(
        "inventory_id",
        *[F.col(c).alias(f"__d_{c}") for c in list(COUNTER_COLS) + ["qty_completed"]],
    )
    # rooted on the batch's deltas (a right join keeps every inventory
    # row), so the post-state belongs to the batch's session, as a
    # micro-batch's state carry requires (streaming/pipelines.py)
    merged = renamed.join(inventory, "inventory_id", "right")
    updated = merged
    for c in list(COUNTER_COLS) + ["qty_completed"]:
        updated = updated.withColumn(
            c,
            F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"__d_{c}"), F.lit(0)),
        )
    updated = updated.drop(*[f"__d_{c}" for c in list(COUNTER_COLS) + ["qty_completed"]])
    return ProcessPipelineResult(updated_inventory=updated, dead_letter=dead)
