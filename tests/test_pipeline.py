"""End-to-end medallion pipeline test on Olist-shaped fixtures.

Runs bronze→silver→gate→gold on seeded dirty fixtures and asserts the
golden invariants from FIXTURES.md: silver quirk compatibility (including
the P5 ~rlike NULL trap), quality-gate behavior, star-schema shape, and
surrogate-key stability across rebuilds.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.runner import PipelinePaths, run_pipeline
from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.schemas import BRONZE_SCHEMAS
from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.silver import silver_schemas, silver_specs
from brazilian_e_commerce_data_pipeline_analytics_spark.scratch import scratch_path

from .fixtures_gen import generate

BASE = scratch_path("pipeline_test")


@pytest.fixture(scope="module")
def warehouse(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    csv_dir = os.path.join(BASE, "csv")
    paths = PipelinePaths(
        csv_dir=csv_dir,
        bronze_dir=os.path.join(BASE, "bronze"),
        silver_dir=os.path.join(BASE, "silver"),
        gold_dir=os.path.join(BASE, "gold"),
    )
    raw = generate(csv_dir)
    run_pipeline(spark, paths)
    return paths, raw


def _read(spark, paths, layer, name):
    return spark.read.parquet(os.path.join(getattr(paths, f"{layer}_dir"), name))


def test_bronze_rowcounts(spark, warehouse):
    paths, raw = warehouse
    for name, rows in raw.items():
        got = _read(spark, paths, "bronze", name).count()
        assert got == len(rows), name


def test_declared_schemas_match_parquet(spark, warehouse):
    """Silver and gold read bronze and silver with the declared schemas
    instead of inferring them from the files. Those schemas must be what
    the files hold, so a spec edit that changes a column type fails here
    instead of being misread."""
    paths, _ = warehouse
    declared = {("bronze", n): s for n, s in BRONZE_SCHEMAS.items()}
    declared.update({("silver", n): s for n, s in silver_schemas(spark).items()})
    assert {n for layer, n in declared if layer == "silver"} == set(silver_specs())
    for (layer, name), schema in declared.items():
        assert _read(spark, paths, layer, name).schema == schema, (layer, name)


def test_silver_invariants(spark, warehouse):
    paths, _ = warehouse
    items = _read(spark, paths, "silver", "order_items")
    # one row per order, no null keys
    assert items.groupBy("Ord_ID").count().filter("count > 1").count() == 0
    assert items.filter(F.col("Prod_ID").isNull() | F.col("Ord_ID").isNull()).count() == 0

    payments = _read(spark, paths, "silver", "order_payments")
    assert payments.filter(F.col("Payment_Type") == "not_defined").count() == 0
    assert payments.groupBy("Ord_ID").count().filter("count > 1").count() == 0

    reviews = _read(spark, paths, "silver", "order_reviews").collect()
    for r in reviews:
        assert len(r["Rev_ID"]) == 32
        assert 1 <= r["Rev_Score"] <= 5
        # P5 NULL-trap parity: ~rlike drops NULL comments/titles entirely
        assert r["Rev_Comment_Message"] is not None
        assert r["Rev_Comment_Title"] is not None
        assert not re.search(r"[^a-zA-Z0-9\s.,!?]", r["Rev_Comment_Message"])
        assert re.match(r"^\d{4}-\d{2}-\d{2}", r["Rev_Creation_Date"])

    customers = _read(spark, paths, "silver", "customers")
    # quirk parity: customer_state stays unrenamed (transformation.py:33)
    assert "customer_state" in customers.columns
    # initcap applied
    assert customers.filter(F.col("Cus_City") != F.initcap("Cus_City")).count() == 0


def test_silver_dedup_is_deterministic(spark, warehouse):
    paths, _ = warehouse
    from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.silver import build_silver

    bronze = {
        name: _read(spark, paths, "bronze", name) for name in silver_specs()
    }
    a = build_silver(bronze)["order_items"].orderBy("Ord_ID").collect()
    b = build_silver(bronze)["order_items"].orderBy("Ord_ID").collect()
    assert a == b
    # the survivor is the minimum (Ord_Item_ID, Prod_ID, Sell_ID)
    items = _read(spark, paths, "silver", "order_items")
    assert items.filter(F.col("Ord_Item_ID") != 1).count() == 0


def test_gold_star_schema(spark, warehouse):
    paths, _ = warehouse
    dim_time = _read(spark, paths, "gold", "dim_time")
    assert dim_time.count() == 24
    row0 = dim_time.filter("Time_SK = 0").collect()[0]
    assert (row0["Hour_12"], row0["AM_PM"], row0["Time_Display"]) == (12, "AM", "12:00 AM")

    dim_date = _read(spark, paths, "gold", "dim_date")
    orders = _read(spark, paths, "silver", "orders")
    bounds = orders.agg(
        F.min(F.col("Ord_Purchase_Time").cast("date")).alias("mn"),
        F.max(F.col("Ord_Purchase_Time").cast("date")).alias("mx"),
    ).collect()[0]
    assert dim_date.count() == (bounds["mx"] - bounds["mn"]).days + 1
    sk = dim_date.filter(F.col("Date") == bounds["mn"]).collect()[0]["Date_SK"]
    assert sk == int(bounds["mn"].strftime("%Y%m%d"))

    geo = _read(spark, paths, "gold", "dim_geography")
    assert geo.groupBy("Zip_Code").count().filter("count > 1").count() == 0

    # facts
    fact_sales = _read(spark, paths, "gold", "fact_sales")
    assert fact_sales.filter(F.col("Quantity") != 1).count() == 0
    fact_orders = _read(spark, paths, "gold", "fact_orders")
    # delivery metrics null iff timestamps null
    bad = fact_orders.filter(
        (F.col("Approved_Timestamp").isNull() & F.col("Approval_Days").isNotNull())
        | (F.col("Approved_Timestamp").isNotNull() & F.col("Approval_Days").isNull())
    )
    assert bad.count() == 0
    # every fact order has payment + item rollups (inner-join semantics)
    assert fact_orders.filter(F.col("Order_Items_Count").isNull()).count() == 0


def test_gold_sk_stability(spark, warehouse):
    """Hash SKs are identical across two independent builds (the
    reference's monotonically_increasing_id is not)."""
    paths, _ = warehouse
    from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.gold import build_dim_customers

    silver_customers = _read(spark, paths, "silver", "customers")
    a = {
        r["Customer_ID"]: r["Customer_SK"]
        for r in build_dim_customers(silver_customers).collect()
    }
    b = {
        r["Customer_ID"]: r["Customer_SK"]
        for r in build_dim_customers(silver_customers.repartition(7)).collect()
    }
    assert a == b


def test_quality_gate_failure_mode(spark, warehouse):
    paths, _ = warehouse
    from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.quality import silver_gate

    silver = {
        name: _read(spark, paths, "silver", name) for name in silver_specs()
    }
    # passes on clean silver
    silver_gate(silver)
    # fails when a poisoned table sneaks in
    poisoned = dict(silver)
    poisoned["order_items"] = silver["order_items"].withColumn(
        "Prod_ID", F.lit(None).cast("string")
    )
    with pytest.raises(ValueError, match="null_product_id"):
        silver_gate(poisoned)


def test_dashboard_query_over_gold_star(spark, warehouse):
    """The BI layer the reference delegates to Power BI, run in-engine
    against the pipeline's own gold output: fact ⋈ dim_date broadcast
    join, monthly revenue + pct-of-total — and the answer must reconcile
    exactly with an independent computation from silver."""
    paths, _ = warehouse
    fact = _read(spark, paths, "gold", "fact_sales")
    dim_date = _read(spark, paths, "gold", "dim_date")

    monthly = (
        fact.join(
            F.broadcast(dim_date.select("Date_SK", "Year", "Month")),
            fact.Order_Date_SK == F.col("Date_SK"),
        )
        .groupBy("Year", "Month")
        .agg(F.sum(F.col("Sales_Amount").cast("decimal(18,4)")).alias("rev"))
    )
    total = monthly.agg(F.sum("rev").alias("t")).collect()[0]["t"]
    got = {
        (r["Year"], r["Month"]): (r["rev"], float(r["rev"] / total) * 100.0)
        for r in monthly.collect()
    }

    # independent silver-side reconciliation
    items = _read(spark, paths, "silver", "order_items")
    orders = _read(spark, paths, "silver", "orders")
    payments = _read(spark, paths, "silver", "order_payments")
    silver = (
        items.join(orders, "Ord_ID")
        .join(payments.select("Ord_ID").distinct(), "Ord_ID")
        .groupBy(
            F.year("Ord_Purchase_Time").alias("Year"),
            F.month("Ord_Purchase_Time").alias("Month"),
        )
        .agg(F.sum(F.col("Price").cast("decimal(18,4)")).alias("rev"))
    )
    expected = {(r["Year"], r["Month"]): r["rev"] for r in silver.collect()}
    assert set(got) == set(expected)
    for k, (rev, pct) in got.items():
        assert rev == expected[k], k
        assert 0.0 <= pct <= 100.0
