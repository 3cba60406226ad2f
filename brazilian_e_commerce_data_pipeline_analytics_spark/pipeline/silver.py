"""Silver layer: spec-driven cleansing of the eight bronze tables.

The reference hard-codes one select/filter chain per table
(``transformation.py:23-131``); here each table is a ``CleanseSpec`` —
projection mapping + dedup keys + ordered filters — executed by one
generic function built from the operator library. Semantics follow the
reference exactly, including its quirks (documented per spec):

- ``customers.customer_state`` stays UNRENAMED (``transformation.py:33``);
  downstream gold reads it by that name (``reporting.py:132``).
- order_items/order_payments/order_reviews dedup to ONE row per Ord_ID
  (``transformation.py:70,80,93``) — on order_items this collapses
  multi-item orders (the reference's "item grain" fact is actually
  one-item-per-order). We reproduce the semantics but make the surviving
  row DETERMINISTIC via an ordered pick (SURVEY.md §2.4 A6).
- Dedup runs BEFORE the filters, as in the reference — an order whose
  surviving review row fails a filter is dropped entirely even if another
  of its rows would have passed.
- The ``~rlike`` comment/title filters drop NULL comments/titles (NULL
  semantics of negated rlike) — reproduced as-is (SURVEY.md §2.2 P5).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.dedup import key_dedup
from ..operators.projection import rename_select
from .schemas import BRONZE_SCHEMAS


@dataclass(frozen=True)
class CleanseSpec:
    """Declarative cleanse recipe for one table."""

    select: dict[str, str | Column]
    dedup_keys: tuple[str, ...] = ()
    dedup_order: tuple[str, ...] = ()  # deterministic surviving-row pick
    filters: tuple[Column, ...] = field(default=())


def cleanse(df: DataFrame, spec: CleanseSpec) -> DataFrame:
    out = rename_select(df, spec.select)
    if spec.dedup_keys:
        out = key_dedup(out, spec.dedup_keys, spec.dedup_order)
    for cond in spec.filters:
        out = out.filter(cond)
    return out


def silver_specs() -> dict[str, CleanseSpec]:
    """The eight cleanse recipes (column contract per transformation.py)."""
    return {
        "customers": CleanseSpec(
            select={
                "Cus_ID": "customer_id",
                "Cus_Unique_ID": "customer_unique_id",
                "Cus_Zip_Code_Prefix": "customer_zip_code_prefix",
                "Cus_City": F.initcap(F.col("customer_city")),
                # quirk: intentionally left unrenamed (transformation.py:33)
                "customer_state": "customer_state",
            }
        ),
        "orders": CleanseSpec(
            select={
                "Ord_ID": "order_id",
                "Cus_ID": "customer_id",
                "Ord_Status": F.initcap(F.col("order_status")),
                "Ord_Purchase_Time": "order_purchase_timestamp",
                "Ord_Approved_At": "order_approved_at",
                "Ord_Delivered_Carrier_Date": "order_delivered_carrier_date",
                "Ord_Delivered_Customer_Date": "order_delivered_customer_date",
                "Ord_Estimated_Delivery_Date": "order_estimated_delivery_date",
            }
        ),
        "geolocation": CleanseSpec(
            select={
                "Geo_Zip_Code_Prefix": "geolocation_zip_code_prefix",
                "Geo_Lat": "geolocation_lat",
                "Geo_Lng": "geolocation_lng",
                "Geo_City": F.initcap(F.col("geolocation_city")),
                "Geo_State": "geolocation_state",
            }
        ),
        "order_items": CleanseSpec(
            select={
                "Ord_ID": "order_id",
                "Ord_Item_ID": "order_item_id",
                "Prod_ID": "product_id",
                "Sell_ID": "seller_id",
                "Shipping_Limit_Date": "shipping_limit_date",
                "Price": "price",
                "Freight_Value": "freight_value",
            },
            dedup_keys=("Ord_ID",),
            dedup_order=("Ord_Item_ID", "Prod_ID", "Sell_ID"),
        ),
        "order_payments": CleanseSpec(
            select={
                "Ord_ID": "order_id",
                "Payment_Sequential": "payment_sequential",
                "Payment_Type": "payment_type",
                "Payment_Installments": "payment_installments",
                "Payment_Value": "payment_value",
            },
            dedup_keys=("Ord_ID",),
            dedup_order=("Payment_Sequential", "Payment_Type", "Payment_Value"),
            filters=(F.col("Payment_Type") != "not_defined",),
        ),
        "order_reviews": CleanseSpec(
            select={
                "Rev_ID": "review_id",
                "Ord_ID": "order_id",
                "Rev_Score": "review_score",
                "Rev_Comment_Title": "review_comment_title",
                "Rev_Comment_Message": "review_comment_message",
                "Rev_Creation_Date": "review_creation_date",
                "Rev_Answer_Timestamp": "review_answer_timestamp",
            },
            dedup_keys=("Ord_ID",),
            dedup_order=("Rev_ID",),
            filters=(
                F.length(F.col("Rev_ID")) == 32,
                F.col("Rev_Score").between(1, 5),
                # P5 NULL trap: ~rlike(NULL) is NULL -> NULL rows dropped.
                ~F.col("Rev_Comment_Message").rlike(r"[^a-zA-Z0-9\s.,!?]"),
                ~F.col("Rev_Comment_Title").rlike(r"[^a-zA-Z0-9\s.,!?]"),
                F.col("Rev_Creation_Date").rlike(r"^\d{4}-\d{2}-\d{2}"),
            ),
        ),
        "products": CleanseSpec(
            select={
                "Prod_ID": "product_id",
                "Prod_Category_Name": F.initcap(
                    F.regexp_replace(F.col("product_category_name"), "_", " ")
                ),
                "Prod_Photos_Qty": "product_photos_qty",
                "Prod_Weight_G": "product_weight_g",
                "Prod_Length_CM": "product_length_cm",
                "Prod_Height_CM": "product_height_cm",
                "Prod_Width_CM": "product_width_cm",
            }
        ),
        "sellers": CleanseSpec(
            select={
                "Sell_ID": "seller_id",
                "Sell_Zip_Code_Prefix": "seller_zip_code_prefix",
                "Sell_City": F.initcap(F.col("seller_city")),
                "Sell_State": "seller_state",
            }
        ),
    }


def build_silver(bronze: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Cleanse all eight tables (lazy — nothing executes until written)."""
    specs = silver_specs()
    return {name: cleanse(bronze[name], spec) for name, spec in specs.items()}


@cache
def silver_schemas(spark: SparkSession) -> dict[str, StructType]:
    """The schema of each silver table as parquet reads it back, derived
    by analysis alone (the specs over empty frames of the bronze
    schemas; no job runs). Parquet reads every column as nullable.
    Cached: the analysis costs about half a second of driver time."""
    empty = {name: spark.createDataFrame([], BRONZE_SCHEMAS[name]) for name in silver_specs()}
    return {
        name: StructType([StructField(f.name, f.dataType, True, f.metadata) for f in df.schema])
        for name, df in build_silver(empty).items()
    }


def read_silver(spark: SparkSession, silver_dir: str) -> dict[str, DataFrame]:
    """Each silver table under ``silver_dir``, read with its derived
    schema (no footer-reading job)."""
    from ..sources.readers import read_parquet

    return {
        name: read_parquet(spark, f"{silver_dir}/{name}", schema)
        for name, schema in silver_schemas(spark).items()
    }


def run_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str
) -> dict[str, DataFrame]:
    """Read bronze parquet, cleanse, write silver parquet."""
    from ..sources.readers import read_parquet
    from ..sources.writers import write_parquet

    bronze = {
        name: read_parquet(spark, f"{bronze_dir}/{name}", BRONZE_SCHEMAS[name])
        for name in silver_specs()
    }
    silver = build_silver(bronze)
    for name, df in silver.items():
        write_parquet(df, f"{silver_dir}/{name}")
    return silver
