"""Explicit bronze schemas for the nine Olist-shaped input tables.

The reference infers CSV schemas at read time (``ingestion.py:12``) —
an extra full pass over the data and a correctness hazard (a column of
digit-looking ids silently becomes numeric). These StructTypes are the
declared contract (FIXTURES.md) that ``sources.readers.read_csv``
always reads with.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t(), True) for n, t in fields])


BRONZE_SCHEMAS: dict[str, StructType] = {
    "customers": _schema(
        ("customer_id", StringType),
        ("customer_unique_id", StringType),
        ("customer_zip_code_prefix", IntegerType),
        ("customer_city", StringType),
        ("customer_state", StringType),
    ),
    "orders": _schema(
        ("order_id", StringType),
        ("customer_id", StringType),
        ("order_status", StringType),
        ("order_purchase_timestamp", TimestampType),
        ("order_approved_at", TimestampType),
        ("order_delivered_carrier_date", TimestampType),
        ("order_delivered_customer_date", TimestampType),
        ("order_estimated_delivery_date", TimestampType),
    ),
    "order_items": _schema(
        ("order_id", StringType),
        ("order_item_id", IntegerType),
        ("product_id", StringType),
        ("seller_id", StringType),
        ("shipping_limit_date", TimestampType),
        ("price", DoubleType),
        ("freight_value", DoubleType),
    ),
    "order_payments": _schema(
        ("order_id", StringType),
        ("payment_sequential", IntegerType),
        ("payment_type", StringType),
        ("payment_installments", IntegerType),
        ("payment_value", DoubleType),
    ),
    "order_reviews": _schema(
        ("review_id", StringType),
        ("order_id", StringType),
        ("review_score", IntegerType),
        ("review_comment_title", StringType),
        ("review_comment_message", StringType),
        ("review_creation_date", StringType),  # timestamp-ish string, regex-gated
        ("review_answer_timestamp", TimestampType),
    ),
    "products": _schema(
        ("product_id", StringType),
        ("product_category_name", StringType),
        ("product_name_lenght", IntegerType),  # sic — upstream Olist typo
        ("product_description_lenght", IntegerType),
        ("product_photos_qty", IntegerType),
        ("product_weight_g", IntegerType),
        ("product_length_cm", IntegerType),
        ("product_height_cm", IntegerType),
        ("product_width_cm", IntegerType),
    ),
    "sellers": _schema(
        ("seller_id", StringType),
        ("seller_zip_code_prefix", IntegerType),
        ("seller_city", StringType),
        ("seller_state", StringType),
    ),
    "geolocation": _schema(
        ("geolocation_zip_code_prefix", IntegerType),
        ("geolocation_lat", DoubleType),
        ("geolocation_lng", DoubleType),
        ("geolocation_city", StringType),
        ("geolocation_state", StringType),
    ),
    "product_category_name_translation": _schema(
        ("product_category_name", StringType),
        ("product_category_name_english", StringType),
    ),
}
