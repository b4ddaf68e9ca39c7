"""Order-approval pipeline — the Spark restatement of the reference's
``POST /wattsbags/order-webhook`` handler (makeRouter.js:77-134; SURVEY.md §3.1).

Reference shape (per webhook, sequential, 2 HTTP round-trips per line item):
    filter Status=='Approved' → iterate subtable → skip invalid/duplicate
    rows → GET inventory → throw if stock < qty → PUT {stock-qty, office+qty}

Spark restatement (per micro-batch, set-oriented, zero per-row I/O):
    filter → posexplode(line items) → validity filter → hash-partition on
    inventory_id → first-wins dedup → running-stock admission → aggregate
    deltas → merge into inventory

Semantics preserved exactly:
  * P1 status gate (makeRouter.js:81)
  * P3 JS-falsy row validity: inventory_id/bag_model empty-or-null, qty
    parseInt-NaN-or-0 (makeRouter.js:89-96) via functions.js_compat
  * P4 first-wins dedup per (webhook, inventory_id) in subtable array order
    (makeRouter.js:86,99-101) — ``posexplode`` line position is the order
  * A3 sufficiency: lines are taken per inventory_id in (webhook, line)
    order, and a line is admitted iff the running sum of qty up to and
    including it fits the starting stock. While every line fits this is
    the reference's sequential read-modify-write chain.

Documented deviation (SURVEY.md §7.4.5): on an insufficient-stock line the
reference throws, aborting the REST of that webhook while keeping earlier
PUTs; the engine instead rejects exactly the lines whose running sum
exceeds the stock (to the ``rejects`` output) and admits the rest —
all-or-nothing per batch, transactional, and order-independent across
webhooks. A rejected line still counts toward its id's running sum, so a
later line of that id that would fit the stock left by the admitted lines
alone is rejected too.

Inventory ids are expected to be unique. Where several inventory rows
share one, each line is admitted once, against the smallest stock among
them, and the id's delta updates every one of those rows (a MERGE updates
every target row its key matches).

Execution: the exploded lines are hash-partitioned on inventory_id once.
The first-wins aggregate on (webhook_id, inventory_id) is satisfied by that
partial-key clustering, and so are the running-stock window, the delta
aggregate and both joins' line side; only the inventory is shuffled to
meet them. Shuffled rather than broadcast joins keep a micro-batch at
three shuffle stages and one write, whatever the inventory's size.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.js_compat import js_parse_int, js_str_falsy
from ..operators.dedup import KeepMinBy

LINE_COLS = ["webhook_id", "line_no", "inventory_id", "bag_model", "qty"]


class OrderPipelineResult(NamedTuple):
    updated_inventory: DataFrame  # full post-state of the inventory table
    rejects: DataFrame  # insufficient-stock lines + reason
    applied_lines: DataFrame  # the admitted, deduped line items


class OrderExprs:
    """The §3.1 plan's Column expressions, built once and applied to any
    number of webhook batches.

    Building a Column costs py4j round trips (a call-site capture each),
    hundreds for this plan; a stream builds one ``OrderExprs`` and pays
    only for the DataFrame steps per micro-batch.

    ``webhooks``: (webhook_id, status, line_items array<struct<...>>) — the
    flattened A2 fixture shape (FIXTURES.md); the `{value}` envelope unwrap
    happens at JSON parse time (sources.ingest + an envelope-aware schema).
    """

    def __init__(self) -> None:
        item = F.col("item")
        inventory_id, bag_model = item["inventory_id"], item["bag_model_website"]
        qty = js_parse_int(item["qty_website"])
        # P1 + T2 + P2: status gate, positional explode, flatten
        self.approved = F.col("status") == "Approved"
        self.explode = [F.col("webhook_id"), F.posexplode("line_items").alias("line_no", "item")]
        # P3: `!inventoryId || !bagModel || !qty` (makeRouter.js:94-96)
        self.valid = (
            ~js_str_falsy(inventory_id) & ~js_str_falsy(bag_model) & qty.isNotNull() & (qty != 0)
        )
        self.line = [
            F.col("webhook_id"),
            F.col("line_no"),
            inventory_id.alias("inventory_id"),
            bag_model.alias("bag_model"),
            qty.alias("qty"),
        ]
        self.key = F.col("inventory_id")
        # P4: first occurrence per (webhook, inventory_id) wins, in array order
        self.first_wins = KeepMinBy(LINE_COLS, ["webhook_id", "inventory_id"], ["line_no"])
        # A3
        self.stock = F.min(F.coalesce(F.col("general_stock_qty"), F.lit(0))).alias("__stock")
        self.stock_or_0 = F.coalesce(F.col("__stock"), F.lit(0))
        running = (
            Window.partitionBy("inventory_id")
            .orderBy("webhook_id", "line_no")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        self.running = F.sum("qty").over(running)
        self.admitted = F.col("__running") <= F.col("__stock")
        # A1 + A2
        self.delta = F.sum("qty").alias("__delta")
        delta = F.coalesce(F.col("__delta"), F.lit(0))
        self.stock_after = F.coalesce(F.col("general_stock_qty"), F.lit(0)) - delta
        self.office_after = F.coalesce(F.col("qty_office"), F.lit(0)) + delta
        self.drop_delta = F.col("__delta")


def staged_lines(webhooks: DataFrame, inventory: DataFrame, x: OrderExprs) -> DataFrame:
    """P1-P4 + A3 staging: every valid first-wins line with its id's stock
    (``__stock``) and running qty sum (``__running``), hash-partitioned on
    inventory_id."""
    lines = (
        webhooks.filter(x.approved)
        .select(*x.explode)
        .filter(x.valid)
        .select(*x.line)
        .repartition(x.key)
    )
    stock = inventory.groupBy(x.key).agg(x.stock).hint("shuffle_hash")
    # one withColumn per column: each is a single py4j call, where
    # withColumns converts two lists
    return (
        x.first_wins(lines)
        .join(stock, "inventory_id", "left")
        .withColumn("__stock", x.stock_or_0)
        .withColumn("__running", x.running)
    )


def apply_deltas(inventory: DataFrame, staged: DataFrame, x: OrderExprs) -> DataFrame:
    """A1 + A2 as one merge: stock -= Σqty, office += Σqty per inventory_id
    over the admitted lines, NULL counters read as 0 (with Delta Lake this
    is ``MERGE INTO inventory USING deltas``).

    The join is rooted on the deltas (a right join keeps every inventory
    row), so the post-state belongs to the batch's session, as a
    micro-batch's state carry requires (streaming/pipelines.py)."""
    deltas = staged.filter(x.admitted).groupBy(x.key).agg(x.delta)
    return (
        deltas.hint("shuffle_hash")
        .join(inventory, "inventory_id", "right")
        .withColumn("general_stock_qty", x.stock_after)
        .withColumn("qty_office", x.office_after)
        .drop(x.drop_delta)
    )


def order_post_state(webhooks: DataFrame, inventory: DataFrame, x: OrderExprs) -> DataFrame:
    """The inventory after ``webhooks``: the only output a stream needs."""
    return apply_deltas(inventory, staged_lines(webhooks, inventory, x), x)


def order_webhook_pipeline(webhooks: DataFrame, inventory: DataFrame) -> OrderPipelineResult:
    """Full §3.1 pipeline: webhooks + inventory -> (post-state, rejects, lines)."""
    x = OrderExprs()
    staged = staged_lines(webhooks, inventory, x)
    return OrderPipelineResult(
        updated_inventory=apply_deltas(inventory, staged, x),
        rejects=staged.filter(~x.admitted)
        .withColumn("reject_reason", F.lit("insufficient_stock"))
        .drop("__running"),
        applied_lines=staged.filter(x.admitted).drop("__running"),
    )
