"""Registered queries that exercise the medallion pipeline itself.

The bronze→silver→gold pipeline (the heart of reference parity —
``transformation.py`` + ``reporting.py:237-409``) was verified only by
local tests in round 1; these queries put it under the driver's
differential gate. Each builder ingests the seeded Olist-shaped fixture
CSVs (tests/fixtures_gen.py — deterministic, seed=42), runs the real
silver cleanse specs and gold fact builders, and aggregates a fact; the
DuckDB oracle reads the SAME CSVs via ``read_csv`` and replays the
cleanse semantics in SQL (row_number dedup with the same ordered pick,
the not_defined payment filter, inner-join fact grain).

The fixtures are generated at module import into the scratch space
(``<repo>/.tmp/olist``, ``scratch.built_once``) so they exist no matter
whether the driver runs the oracle or the Spark side first. Generation
is pure Python (~2k rows) and runs once per process; nothing on disk is
trusted across processes.

The ``sf_dir`` argument is accepted for registry-signature uniformity but
unused: the medallion input is Olist-shaped CSV, not the TPC-H tables.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.buckets import payment_category
from ..functions.compat import dsum
from ..registry import register
from ..scratch import built_once, scratch_path
from ..sources.readers import read_csv
from .gold import build_dim_customers, build_fact_orders, build_fact_sales
from .schemas import BRONZE_SCHEMAS
from .silver import cleanse, silver_specs

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_DIR = scratch_path("olist")


def _ensure_fixtures() -> str:
    """The seeded Olist CSVs in ``FIXTURE_DIR``, generated on the first
    call in this process (``scratch.built_once``)."""
    if _REPO not in sys.path:  # driver may import the package directly
        sys.path.insert(0, _REPO)
    from tests.fixtures_gen import generate

    return built_once("olist", build=generate)


# Import-time so the oracle SQL (which embeds the CSV paths) is always
# runnable regardless of Spark/DuckDB execution order in the harness.
_ensure_fixtures()


def _silver(spark: SparkSession, *tables: str) -> dict[str, DataFrame]:
    """CSV → bronze (explicit schema) → silver cleanse for the named tables."""
    specs = silver_specs()
    out = {}
    for name in tables:
        bronze = read_csv(
            spark, os.path.join(FIXTURE_DIR, f"{name}.csv"), schema=BRONZE_SCHEMAS[name]
        )
        out[name] = cleanse(bronze, specs[name])
    return out


# Shared oracle CTEs replaying the silver cleanse in DuckDB SQL: the
# deterministic row_number dedup (same ascending order_by as
# silver_specs(); NULLS FIRST matches Spark's asc null ordering) and the
# not_defined payment filter which runs AFTER the dedup (silver.py:48 —
# an order whose surviving payment row is not_defined drops entirely).
_SILVER_CTES = f"""
oi AS (
  SELECT order_id, order_item_id, product_id, seller_id, price, freight_value
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY order_id
      ORDER BY order_item_id NULLS FIRST, product_id NULLS FIRST, seller_id NULLS FIRST
    ) AS rn
    FROM read_csv('{FIXTURE_DIR}/order_items.csv', header=true)
  ) WHERE rn = 1
),
pay AS (
  SELECT order_id, payment_type, payment_installments, payment_value
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY order_id
      ORDER BY payment_sequential NULLS FIRST, payment_type NULLS FIRST,
               payment_value NULLS FIRST
    ) AS rn
    FROM read_csv('{FIXTURE_DIR}/order_payments.csv', header=true)
  ) WHERE rn = 1 AND payment_type <> 'not_defined'
),
o AS (
  SELECT order_id, customer_id, order_purchase_timestamp
  FROM read_csv('{FIXTURE_DIR}/orders.csv', header=true)
),
c AS (
  SELECT customer_id, customer_state
  FROM read_csv('{FIXTURE_DIR}/customers.csv', header=true)
)
"""

_Q99_ORACLE = f"""
WITH {_SILVER_CTES}
SELECT strftime(o.order_purchase_timestamp, '%Y-%m') AS month,
       c.customer_state AS customer_state,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(oi.price AS DECIMAL(18,4))) AS DOUBLE) AS sales_amount,
       CAST(SUM(CAST(oi.freight_value AS DECIMAL(18,4))) AS DOUBLE) AS freight_value
FROM oi
JOIN o   ON oi.order_id = o.order_id
JOIN pay ON oi.order_id = pay.order_id
JOIN c   ON o.customer_id = c.customer_id
GROUP BY 1, 2
"""


@register("q99_gold_monthly_state_sales", oracle=_Q99_ORACLE, tags=("pipeline", "gold"))
def q99_gold_monthly_state_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact_Sales through the real silver+gold builders, rolled up to
    month × customer_state (the reference's headline BI cut,
    reporting.py:249-297 + Power BI layer)."""
    _ensure_fixtures()
    silver = _silver(spark, "customers", "orders", "order_items", "order_payments")
    fact = build_fact_sales(
        silver["order_items"], silver["orders"], silver["order_payments"]
    )
    dim_c = build_dim_customers(silver["customers"])
    return (
        fact.join(
            F.broadcast(dim_c.select("Customer_ID", "Customer_State")), "Customer_ID"
        )
        .groupBy(
            F.date_format("Order_Timestamp", "yyyy-MM").alias("month"),
            F.col("Customer_State").alias("customer_state"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("Sales_Amount", "sales_amount"),
            dsum("Freight_Value", "freight_value"),
        )
    )


_Q100_ORACLE = f"""
WITH {_SILVER_CTES},
iagg AS (
  SELECT order_id, COUNT(order_item_id) AS items_count,
         SUM(price) AS items_value
  FROM oi GROUP BY order_id
)
SELECT pay.payment_type AS payment_type,
       CASE WHEN pay.payment_type IN ('credit_card', 'debit_card') THEN 'Card'
            WHEN pay.payment_type = 'boleto' THEN 'Bank Transfer'
            WHEN pay.payment_type = 'voucher' THEN 'Voucher'
            ELSE 'Other' END AS payment_category,
       COUNT(*) AS n_orders,
       CAST(SUM(iagg.items_count) AS BIGINT) AS n_items,
       CAST(SUM(CAST(iagg.items_value AS DECIMAL(18,4))) AS DOUBLE) AS items_value,
       CAST(SUM(CAST(pay.payment_value AS DECIMAL(18,4))) AS DOUBLE) AS payment_value,
       CAST(SUM(pay.payment_installments) AS BIGINT) AS total_installments
FROM o
JOIN pay  ON o.order_id = pay.order_id
JOIN iagg ON o.order_id = iagg.order_id
GROUP BY 1, 2
"""


@register("q100_gold_payment_mix", oracle=_Q100_ORACLE, tags=("pipeline", "gold"))
def q100_gold_payment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact_Orders through the real builders, rolled up by payment type
    with the gold payment-category classifier (reporting.py:211-214,
    299-363). Post-silver each order has exactly one payment and one
    item row, so the per-order sums inside build_fact_orders are exact
    even as raw doubles; the cross-order rollup here uses decimal sums."""
    _ensure_fixtures()
    silver = _silver(spark, "orders", "order_items", "order_payments")
    fact = build_fact_orders(
        silver["orders"], silver["order_payments"], silver["order_items"]
    )
    return (
        fact.groupBy(F.col("Payment_Type").alias("payment_type"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("Order_Items_Count").alias("n_items"),
            dsum("Order_Items_Value", "items_value"),
            dsum("Total_Payment_Value", "payment_value"),
            F.sum("Total_Installments").alias("total_installments"),
        )
        .select(
            "payment_type",
            payment_category("payment_type").alias("payment_category"),
            "n_orders",
            "n_items",
            "items_value",
            "payment_value",
            "total_installments",
        )
    )


# ---------------------------------------------------------------------------
# q110: geo distance analytics — per-state customer-to-nearest-seller
# haversine distance over the Olist geolocation fixture. Exercises the
# geo scalar family (radians/sin/cos/asin identical formula text on both
# engines; round-6 on the distance absorbs libm-vs-Math trig ulps), the
# deterministic zip dedup from dim_geography, and a broadcast
# cross-join (seller points are dim-sized). Two-level agg: min distance
# per customer, then count/min/avg per state (decimal-summed round-6
# terms, order-independent).
#
# Scale note: the cross-join is |customers| x |sellers| with sellers
# broadcast — right for dim-sized seller sets. At millions of sellers
# the plan becomes a grid-bucket join (join on rounded lat/lng cells +
# neighbor cells) — same shape as the LSH bucketing in llm/dedup.py.
# ---------------------------------------------------------------------------

_HAV_KM = (
    "2 * 6371.0 * asin(sqrt("
    "sin((radians(s_lat) - radians(c_lat)) / 2) * sin((radians(s_lat) - radians(c_lat)) / 2)"
    " + cos(radians(c_lat)) * cos(radians(s_lat))"
    " * sin((radians(s_lng) - radians(c_lng)) / 2) * sin((radians(s_lng) - radians(c_lng)) / 2)"
    "))"
)

_Q110_ORACLE = f"""
WITH geo AS (
  SELECT geolocation_zip_code_prefix AS zip, geolocation_lat AS lat,
         geolocation_lng AS lng
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY geolocation_zip_code_prefix
      -- lower() on both sides: the Spark relation carries the silver
      -- cleanse's initcap'd Geo_City while this reads the raw CSV, and
      -- lower(initcap(x)) == lower(x) — ordering on the raw city alone
      -- could pick a different surviving (lat,lng) for any mixed-case
      -- city sharing a zip (ADVICE r2; DuckDB has no initcap)
      ORDER BY lower(geolocation_city) NULLS FIRST, geolocation_state NULLS FIRST,
               geolocation_lat NULLS FIRST, geolocation_lng NULLS FIRST
    ) AS rn
    FROM read_csv('{FIXTURE_DIR}/geolocation.csv', header=true)
  ) WHERE rn = 1
),
cust AS (
  SELECT c.customer_id, c.customer_state, g.lat AS c_lat, g.lng AS c_lng
  FROM read_csv('{FIXTURE_DIR}/customers.csv', header=true) c
  JOIN geo g ON c.customer_zip_code_prefix = g.zip
),
sell AS (
  SELECT s.seller_id, g.lat AS s_lat, g.lng AS s_lng
  FROM read_csv('{FIXTURE_DIR}/sellers.csv', header=true) s
  JOIN geo g ON s.seller_zip_code_prefix = g.zip
),
nearest AS (
  SELECT customer_id, customer_state,
         MIN(ROUND({_HAV_KM}, 6)) AS min_km
  FROM cust CROSS JOIN sell
  GROUP BY 1, 2
)
SELECT customer_state,
       COUNT(*) AS n_customers,
       MIN(min_km) AS closest_km,
       ROUND(CAST(SUM(CAST(min_km AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_min_km
FROM nearest
GROUP BY customer_state
"""


@register("q110_geo_nearest_seller", oracle=_Q110_ORACLE, tags=("pipeline", "geo"))
def q110_geo_nearest_seller(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_fixtures()
    silver = _silver(spark, "customers", "sellers", "geolocation")
    from ..operators.dedup import key_dedup

    geo = key_dedup(
        silver["geolocation"].select(
            F.col("Geo_Zip_Code_Prefix").alias("zip"),
            F.col("Geo_City").alias("city"),
            F.col("Geo_State").alias("state"),
            F.col("Geo_Lat").alias("lat"),
            F.col("Geo_Lng").alias("lng"),
        ),
        ["zip"],
        [F.lower(F.col("city")), "state", "lat", "lng"],
    ).select("zip", "lat", "lng")
    cust = silver["customers"].join(
        geo, silver["customers"]["Cus_Zip_Code_Prefix"] == geo["zip"]
    ).select(
        F.col("Cus_ID").alias("customer_id"),
        F.col("customer_state"),
        F.col("lat").alias("c_lat"),
        F.col("lng").alias("c_lng"),
    )
    sell = silver["sellers"].join(
        geo, silver["sellers"]["Sell_Zip_Code_Prefix"] == geo["zip"]
    ).select(F.col("lat").alias("s_lat"), F.col("lng").alias("s_lng"))
    dphi = (F.radians("s_lat") - F.radians("c_lat")) / 2
    dlam = (F.radians("s_lng") - F.radians("c_lng")) / 2
    hav = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians("c_lat")) * F.cos(F.radians("s_lat")) * F.sin(dlam) * F.sin(dlam)
    )
    km = F.round(F.lit(2 * 6371.0) * F.asin(F.sqrt(hav)), 6)
    nearest = (
        cust.crossJoin(F.broadcast(sell))
        .groupBy("customer_id", "customer_state")
        .agg(F.min(km).alias("min_km"))
    )
    from ..functions.compat import roundsum

    return (
        nearest.groupBy("customer_state")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("min_km").alias("closest_km"),
            F.round(roundsum("min_km", 6) / F.count(F.lit(1)), 6).alias("avg_min_km"),
        )
    )


# ---------------------------------------------------------------------------
# q329: declarative EXPECTATION suite — the data-quality framework verb
# (Deequ/dbt-test shape) that generalizes the reference's single
# hard-coded quality gate (`spark_jobs/transformation.py:87-96`'s
# review-score filter) and this engine's q09 gate: rules live as DATA
# (rule_id, target table, boolean SQL expression, severity), the
# engine compiles each into a one-pass aggregate over its target, and
# the suite returns a violations report — rows, violations, pass flag
# per rule. NULL counts as a violation (a rule that cannot evaluate
# did not pass — the P5 NULL-drop lesson as policy). Two of the seven
# rules here genuinely fail on this corpus (a price-ceiling warn and a
# discount-band warn), so the report is non-vacuous in both
# directions.
#
# Scale: each rule is ONE scan-side aggregate over its target (rules
# against the same table could share a scan via a single multi-agg
# pass — the q318 FILTER-clause form — kept per-rule here so a rule
# set spanning N tables stays embarrassingly parallel and a failing
# rule's scan can be retried alone). The rule CONFIG is bounded by
# contract (a governance artifact, not data); compiling it driver-side
# is the sanctioned metadata read. Oracle: each rule replayed as a
# UNION ALL leg with the same NULL-as-violation arithmetic.
# ---------------------------------------------------------------------------

_Q329_RULES = (
    # (rule_id, table, boolean SQL over that table's columns, severity)
    ("r1_price_positive", "orders", "o_totalprice > 0", "error"),
    ("r2_price_ceiling", "orders", "o_totalprice < 400000", "warn"),
    ("r3_qty_band", "lineitem", "l_quantity BETWEEN 1 AND 50", "error"),
    ("r4_discount_band", "lineitem", "l_discount BETWEEN 0 AND 0.08", "warn"),
    ("r5_acctbal_present", "customer", "c_acctbal IS NOT NULL", "error"),
    ("r6_chars_consistent", "documents", "n_chars = length(text)", "error"),
    ("r7_value_nonneg", "events", "value >= 0", "error"),
)

_Q329_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{rid}' AS rule_id, '{tbl}' AS target_table, '{sev}' AS severity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN NOT ({expr}) OR ({expr}) IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN NOT ({expr}) OR ({expr}) IS NULL
           THEN 1 ELSE 0 END) = 0 AS passed
FROM {tbl}
"""
    for rid, tbl, expr, sev in _Q329_RULES
)


@register(
    "q329_expectation_suite",
    oracle=_Q329_ORACLE,
    tags=("quality", "governance", "rules", "pipeline"),
)
def q329_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    report = None
    for rid, tbl, expr, sev in _Q329_RULES:
        t = load_table(spark, sf_dir, tbl)
        ok = F.expr(expr)
        viol = F.sum(
            F.when(~F.coalesce(ok, F.lit(False)), 1).otherwise(0)
        )
        leg = t.agg(
            F.count(F.lit(1)).alias("n_rows"),
            viol.alias("n_violations"),
        ).select(
            F.lit(rid).alias("rule_id"),
            F.lit(tbl).alias("target_table"),
            F.lit(sev).alias("severity"),
            "n_rows",
            F.col("n_violations").cast("bigint").alias("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        report = leg if report is None else report.unionByName(leg)
    return report
