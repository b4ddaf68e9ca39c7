"""Golden end-to-end test for the order-approval pipeline (SURVEY.md §3.1),
hand-computed expected inventory post-state covering: P1 status gate, P3
falsiness skips, P4 first-wins dedup, A3 insufficient-stock rejection,
A1/A2 stock/office counters, NULL-counter parseInt(x||0) semantics.
"""

import pyspark.sql.types as T
import pytest

from data_transform_make_spark.plans.order_pipeline import order_webhook_pipeline

ITEM = T.StructType(
    [
        T.StructField("inventory_id", T.StringType()),
        T.StructField("bag_model_website", T.StringType()),
        T.StructField("qty_website", T.StringType()),
    ]
)
WEBHOOKS = T.StructType(
    [
        T.StructField("webhook_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("line_items", T.ArrayType(ITEM)),
    ]
)
INVENTORY = T.StructType(
    [
        T.StructField("inventory_id", T.StringType()),
        T.StructField("bag_model", T.StringType()),
        T.StructField("general_stock_qty", T.IntegerType()),
        T.StructField("qty_office", T.IntegerType()),
    ]
)


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    webhooks = spark.createDataFrame(
        [
            # wh1: normal + dup id (first wins: qty 3 not 5) + invalid rows
            (1, "Approved", [
                ("I1", "Tote", "3"),
                ("I1", "Tote", "5"),        # dup inventory_id -> skipped (P4)
                ("", "Tote", "2"),          # falsy inventory_id (P3)
                ("I2", "", "2"),            # falsy bag_model (P3)
                ("I2", "Duffel", "0"),      # qty 0 falsy (P3)
                ("I2", "Duffel", "abc"),    # parseInt NaN (P3)
                ("I2", "Duffel", "2x"),     # parseInt -> 2, valid (T7)
            ]),
            # wh2: not approved -> fully skipped (P1)
            (2, "Pending", [("I1", "Tote", "9")]),
            # wh3: insufficient stock on I3 (stock 1 < qty 4) -> rejected (A3)
            (3, "Approved", [("I3", "Roller", "4"), ("I4", "Mini", "1")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame(
        [
            ("I1", "Tote", 10, 1),
            ("I2", "Duffel", 7, None),  # NULL office counter -> parseInt(x||0)
            ("I3", "Roller", 1, 0),
            ("I4", "Mini", 5, 2),
            ("I5", "Untouched", 8, 3),
        ],
        INVENTORY,
    )
    return webhooks, inventory


def test_order_pipeline_post_state(fixture_dfs):
    webhooks, inventory = fixture_dfs
    result = order_webhook_pipeline(webhooks, inventory)
    post = {r.inventory_id: r for r in result.updated_inventory.collect()}
    # I1: 10-3=7 stock, office 1+3=4 (dup line skipped)
    assert (post["I1"].general_stock_qty, post["I1"].qty_office) == (7, 4)
    # I2: only the '2x' line is valid -> 7-2=5, office 0+2=2
    assert (post["I2"].general_stock_qty, post["I2"].qty_office) == (5, 2)
    # I3: rejected (insufficient), untouched
    assert (post["I3"].general_stock_qty, post["I3"].qty_office) == (1, 0)
    # I4: 5-1=4, office 2+1=3
    assert (post["I4"].general_stock_qty, post["I4"].qty_office) == (4, 3)
    # I5 untouched
    assert (post["I5"].general_stock_qty, post["I5"].qty_office) == (8, 3)


def test_order_pipeline_rejects(fixture_dfs):
    webhooks, inventory = fixture_dfs
    result = order_webhook_pipeline(webhooks, inventory)
    rejects = result.rejects.collect()
    assert len(rejects) == 1
    assert rejects[0].inventory_id == "I3"
    assert rejects[0].reject_reason == "insufficient_stock"


def test_running_stock_admission(spark):
    """Two webhooks draining one inventory: the running-sum window admits
    greedily in (webhook, line) order — wh1 takes 6 of 10, wh2's 5 no longer
    fits and is rejected (the reference's sequential GET-PUT chain)."""
    webhooks = spark.createDataFrame(
        [
            (1, "Approved", [("I1", "Tote", "6")]),
            (2, "Approved", [("I1", "Tote", "5")]),
            (3, "Approved", [("I1", "Tote", "4")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    result = order_webhook_pipeline(webhooks, inventory)
    post = result.updated_inventory.collect()[0]
    # wh1 (6) admitted; wh2 (6+5=11>10) rejected; wh3 (6+4=10<=10) admitted
    # under prefix-running-sum: running sums are 6, 11, 15 -> only wh1 fits.
    # Document: strict prefix rule admits while cumulative fits -> 6 only?
    # running: wh1=6 ok; wh2=11 reject; wh3=15 reject.
    assert post.general_stock_qty == 4
    assert post.qty_office == 6
    assert result.rejects.count() == 2


def _post(result):
    return sorted(tuple(r) for r in result.updated_inventory.collect())


def test_unknown_inventory_id_is_rejected_and_adds_no_row(spark):
    """A line for an id the inventory lacks has stock 0: its qty never
    fits, so it is rejected and the post-state gains no row for it."""
    webhooks = spark.createDataFrame(
        [(1, "Approved", [("I9", "Ghost", "2"), ("I1", "Tote", "1")])], WEBHOOKS
    )
    inventory = spark.createDataFrame([("I1", "Tote", 10, 1)], INVENTORY)
    result = order_webhook_pipeline(webhooks, inventory)
    assert _post(result) == [("I1", "Tote", 9, 2)]
    assert [(r.webhook_id, r.inventory_id, r.reject_reason) for r in result.rejects.collect()] == [
        (1, "I9", "insufficient_stock")
    ]
    assert [(r.webhook_id, r.inventory_id, r.qty) for r in result.applied_lines.collect()] == [
        (1, "I1", 1)
    ]


def test_negative_qty_returns_stock(spark):
    """parseInt keeps the sign: a '-3' line is valid (non-zero), lowers the
    running sum and moves 3 back from office to stock, so the next
    webhook's 12 fits a stock of 10: 10 + 3 - 12 = 1, office 1 - 3 + 12."""
    webhooks = spark.createDataFrame(
        [
            (1, "Approved", [("I1", "Tote", "-3")]),
            (2, "Approved", [("I1", "Tote", "12")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame([("I1", "Tote", 10, 1)], INVENTORY)
    result = order_webhook_pipeline(webhooks, inventory)
    assert _post(result) == [("I1", "Tote", 1, 10)]
    assert result.rejects.count() == 0


def test_key_hit_by_several_webhooks_runs_out_mid_batch(spark):
    """Running sums per id in (webhook, line) order: I1 4, 11, 13 against
    stock 10 and I2 5, 6 against stock 5. A rejected line still counts
    toward the running sum, so wh3's 2 is rejected although 4 + 2 fits."""
    webhooks = spark.createDataFrame(
        [
            (1, "Approved", [("I1", "Tote", "4"), ("I2", "Duffel", "5")]),
            (2, "Approved", [("I1", "Tote", "7")]),
            (3, "Approved", [("I1", "Tote", "2")]),
            (4, "Approved", [("I2", "Duffel", "1")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame(
        [("I1", "Tote", 10, 0), ("I2", "Duffel", 5, 0)], INVENTORY
    )
    result = order_webhook_pipeline(webhooks, inventory)
    assert _post(result) == [("I1", "Tote", 6, 4), ("I2", "Duffel", 0, 5)]
    assert sorted((r.webhook_id, r.inventory_id) for r in result.rejects.collect()) == [
        (2, "I1"),
        (3, "I1"),
        (4, "I2"),
    ]
    assert sorted((r.webhook_id, r.inventory_id) for r in result.applied_lines.collect()) == [
        (1, "I1"),
        (1, "I2"),
    ]


def test_duplicate_inventory_id_admits_against_smallest_stock(spark):
    """Two inventory rows share I1 (stocks 10 and 4). Each line is admitted
    once, against the smallest stock of the id (4): running sums 3, 5, so
    wh2's 2 is rejected. The id's delta then updates every row that
    carries it, as a MERGE updates every target row its key matches."""
    webhooks = spark.createDataFrame(
        [
            (1, "Approved", [("I1", "Tote", "3")]),
            (2, "Approved", [("I1", "Tote", "2")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame(
        [("I1", "Tote", 10, 0), ("I1", "Tote", 4, 1)], INVENTORY
    )
    result = order_webhook_pipeline(webhooks, inventory)
    assert _post(result) == [("I1", "Tote", 1, 4), ("I1", "Tote", 7, 3)]
    assert [(r.webhook_id, r.inventory_id) for r in result.rejects.collect()] == [(2, "I1")]
    assert [(r.webhook_id, r.qty) for r in result.applied_lines.collect()] == [(1, 3)]
