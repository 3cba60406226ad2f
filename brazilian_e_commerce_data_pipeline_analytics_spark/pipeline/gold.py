"""Gold layer: star schema — 9 dimensions + 3 facts (reporting.py:43-409).

Same table/column contract as the reference, with the §4 physical-plan
hazards designed out:

- Surrogate keys are ``xxhash64`` of the natural key — stable across
  runs/partitions; the reference's ``monotonically_increasing_id`` values
  change with partitioning (reporting.py:127 etc.) and are unusable for
  incremental loads. (They are also unused for joins there — facts join
  dims on natural keys — so the swap is behavior-preserving.)
- ``dim_date`` uses the distributed sequence/explode spine — no
  ``collect()`` mid-plan (reporting.py:56-66).
- Per-order payment "primary type" uses a deterministic ``min`` pick, not
  the task-order-dependent ``first()`` (reporting.py:263,314).
- Facts are written partitioned by order year — dynamic partition
  pruning on date-ranged dashboard queries.
- No Load_Timestamp in comparisons: kept as a column but injectable for
  reproducible tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.buckets import (
    am_pm,
    hour_12,
    payment_category,
    score_description,
    score_sentiment,
    state_region,
    status_category,
    time_period,
    weight_class,
    zip_region,
)
from ..operators.datespine import date_spine
from ..operators.dedup import key_dedup


def _sk(*cols: str | Column) -> Column:
    """Stable surrogate key from natural key(s)."""
    return F.xxhash64(*cols)


def build_dim_date(orders: DataFrame) -> DataFrame:
    """Calendar dimension spanning [min, max] purchase dates
    (reporting.py:56-92), built distributed."""
    spine = date_spine(orders, "Ord_Purchase_Time", date_alias="date")
    dow = F.dayofweek("date")
    return spine.select(
        F.date_format("date", "yyyyMMdd").cast("int").alias("Date_SK"),
        F.col("date").cast("date").alias("Date"),
        F.year("date").alias("Year"),
        F.month("date").alias("Month"),
        F.date_format("date", "MMMM").alias("MonthName"),
        F.quarter("date").alias("Quarter"),
        F.concat(F.lit("Q"), F.quarter("date")).alias("QuarterName"),
        F.weekofyear("date").alias("Week"),
        F.dayofmonth("date").alias("Day"),
        F.date_format("date", "EEEE").alias("DayName"),
        F.concat(
            F.year("date"), F.lit("-W"), F.lpad(F.weekofyear("date"), 2, "0")
        ).alias("YearWeek"),
        F.date_format("date", "yyyy-MM").alias("YearMonth"),
        dow.isin(1, 7).alias("IsWeekend"),
        (dow == 2).alias("IsMonday"),
        dow.isin(2, 3, 4, 5, 6).alias("IsWeekday"),
        F.lit(False).alias("IsHoliday"),
        F.lit("").alias("HolidayName"),
        F.year("date").alias("FiscalYear"),
        F.quarter("date").alias("FiscalQuarter"),
    )


def build_dim_time(spark: SparkSession) -> DataFrame:
    """24-row hour dimension (reporting.py:96-122)."""
    hour = F.col("id").cast("int")
    return spark.range(24).select(
        hour.alias("Time_SK"),
        hour.alias("Hour_24"),
        hour_12(hour).alias("Hour_12"),
        am_pm(hour).alias("AM_PM"),
        time_period(hour).alias("Time_Period"),
        hour.between(9, 17).alias("Is_Business_Hours"),
        hour.between(18, 22).alias("Is_Peak_Shopping"),
        F.concat(
            F.when(hour == 0, "12")
            .when(hour <= 12, F.format_string("%02d", hour))
            .otherwise(F.format_string("%02d", hour - 12)),
            F.lit(":00 "),
            am_pm(hour),
        ).alias("Time_Display"),
    )


def build_dim_customers(customers: DataFrame) -> DataFrame:
    return customers.select(
        _sk("Cus_ID").alias("Customer_SK"),
        F.col("Cus_ID").alias("Customer_ID"),
        F.col("Cus_Unique_ID").alias("Customer_Unique_ID"),
        F.col("Cus_Zip_Code_Prefix").alias("Customer_Zip_Code"),
        F.col("Cus_City").alias("Customer_City"),
        F.col("customer_state").alias("Customer_State"),
        zip_region("Cus_Zip_Code_Prefix").alias("Customer_Region"),
    )


def build_dim_products(products: DataFrame) -> DataFrame:
    return products.select(
        _sk("Prod_ID").alias("Product_SK"),
        F.col("Prod_ID").alias("Product_ID"),
        F.col("Prod_Category_Name").alias("Product_Category"),
        F.col("Prod_Weight_G").alias("Product_Weight_G"),
        F.col("Prod_Height_CM").alias("Product_Height_CM"),
        F.col("Prod_Width_CM").alias("Product_Width_CM"),
        F.col("Prod_Length_CM").alias("Product_Length_CM"),
        weight_class("Prod_Weight_G").alias("Product_Weight_Category"),
        (
            F.col("Prod_Height_CM") * F.col("Prod_Width_CM") * F.col("Prod_Length_CM")
        ).alias("Product_Volume_CM3"),
    )


def build_dim_sellers(sellers: DataFrame) -> DataFrame:
    return sellers.select(
        _sk("Sell_ID").alias("Seller_SK"),
        F.col("Sell_ID").alias("Seller_ID"),
        F.col("Sell_Zip_Code_Prefix").alias("Seller_Zip_Code"),
        F.col("Sell_City").alias("Seller_City"),
        F.col("Sell_State").alias("Seller_State"),
        zip_region("Sell_Zip_Code_Prefix").alias("Seller_Region"),
    )


def build_dim_geography(geolocation: DataFrame) -> DataFrame:
    """One row per zip prefix; deterministic survivor (city, state, lat,
    lng ascending) replaces the reference's arbitrary dropDuplicates
    (reporting.py:189)."""
    projected = geolocation.select(
        F.col("Geo_Zip_Code_Prefix").alias("Zip_Code"),
        F.col("Geo_City").alias("City"),
        F.col("Geo_State").alias("State"),
        F.col("Geo_Lat").alias("Latitude"),
        F.col("Geo_Lng").alias("Longitude"),
    )
    deduped = key_dedup(
        projected, ["Zip_Code"], ["City", "State", "Latitude", "Longitude"]
    )
    return deduped.select(
        _sk("Zip_Code").alias("Geography_SK"),
        "Zip_Code",
        "City",
        "State",
        "Latitude",
        "Longitude",
        state_region("State").alias("Region"),
    )


def build_dim_order_status(orders: DataFrame) -> DataFrame:
    return (
        orders.select(F.col("Ord_Status").alias("Order_Status"))
        .distinct()
        .select(
            _sk("Order_Status").alias("Order_Status_SK"),
            "Order_Status",
            status_category("Order_Status").alias("Status_Category"),
        )
    )


def build_dim_payment_types(order_payments: DataFrame) -> DataFrame:
    return (
        order_payments.select("Payment_Type")
        .distinct()
        .select(
            _sk("Payment_Type").alias("Payment_Type_SK"),
            "Payment_Type",
            payment_category("Payment_Type").alias("Payment_Category"),
        )
    )


def build_dim_review_scores(order_reviews: DataFrame) -> DataFrame:
    return (
        order_reviews.select(F.col("Rev_Score").cast("int").alias("Review_Score"))
        .distinct()
        .select(
            _sk("Review_Score").alias("Review_Score_SK"),
            "Review_Score",
            score_description("Review_Score").alias("Score_Description"),
            score_sentiment("Review_Score").alias("Score_Category"),
        )
    )


def _payments_agg(order_payments: DataFrame, wide: bool = False) -> DataFrame:
    """Per-order payment rollup (reporting.py:260-263, 309-314) with a
    deterministic primary-type pick (min) instead of first()."""
    aggs = [
        F.sum("Payment_Value").alias(
            "Total_Payment_Value" if wide else "Order_Payment_Value"
        ),
        F.min("Payment_Type").alias("Primary_Payment_Type"),
    ]
    if wide:
        aggs += [
            F.sum("Payment_Installments").alias("Total_Installments"),
            F.count("Payment_Type").alias("Payment_Methods_Count"),
        ]
    return order_payments.groupBy("Ord_ID").agg(*aggs)


def build_fact_sales(
    order_items: DataFrame, orders: DataFrame, order_payments: DataFrame
) -> DataFrame:
    """Fact_Sales at the (post-silver-dedup) order-item grain
    (reporting.py:249-297)."""
    payments = _payments_agg(order_payments)
    joined = order_items.alias("oi").join(
        orders.alias("o"), "Ord_ID"
    ).join(payments.alias("p"), "Ord_ID")
    return joined.select(
        _sk("Ord_ID", "oi.Ord_Item_ID").alias("Sales_SK"),
        F.col("Ord_ID").alias("Order_ID"),
        F.col("oi.Ord_Item_ID").alias("Order_Item_ID"),
        F.col("oi.Prod_ID").alias("Product_ID"),
        F.col("o.Cus_ID").alias("Customer_ID"),
        F.col("oi.Sell_ID").alias("Seller_ID"),
        F.col("p.Primary_Payment_Type").alias("Payment_Type"),
        F.col("o.Ord_Status").alias("Order_Status"),
        F.date_format("o.Ord_Purchase_Time", "yyyyMMdd").cast("int").alias("Order_Date_SK"),
        F.hour("o.Ord_Purchase_Time").alias("Order_Time_SK"),
        F.col("oi.Price").alias("Sales_Amount"),
        F.col("oi.Freight_Value").alias("Freight_Value"),
        F.lit(1).alias("Quantity"),
        F.col("p.Order_Payment_Value").alias("Order_Payment_Value"),
        F.col("o.Ord_Purchase_Time").alias("Order_Timestamp"),
        F.current_timestamp().alias("Load_Timestamp"),
    )


def build_fact_orders(
    orders: DataFrame, order_payments: DataFrame, order_items: DataFrame
) -> DataFrame:
    """Fact_Orders at order grain (reporting.py:299-363)."""
    payments = _payments_agg(order_payments, wide=True)
    items = order_items.groupBy("Ord_ID").agg(
        F.count("Ord_Item_ID").alias("Items_Count"),
        F.sum("Price").alias("Items_Total_Value"),
        F.sum("Freight_Value").alias("Total_Freight_Value"),
    )
    joined = orders.alias("o").join(payments.alias("p"), "Ord_ID").join(
        items.alias("i"), "Ord_ID"
    )
    return joined.select(
        _sk("Ord_ID").alias("Order_SK"),
        F.col("Ord_ID").alias("Order_ID"),
        F.col("o.Cus_ID").alias("Customer_ID"),
        F.col("p.Primary_Payment_Type").alias("Payment_Type"),
        F.col("o.Ord_Status").alias("Order_Status"),
        F.date_format("o.Ord_Purchase_Time", "yyyyMMdd").cast("int").alias("Order_Date_SK"),
        F.hour("o.Ord_Purchase_Time").alias("Order_Time_SK"),
        F.col("i.Items_Count").alias("Order_Items_Count"),
        F.col("i.Items_Total_Value").alias("Order_Items_Value"),
        F.col("i.Total_Freight_Value").alias("Order_Freight_Value"),
        F.col("p.Total_Payment_Value").alias("Total_Payment_Value"),
        F.col("p.Total_Installments").alias("Total_Installments"),
        F.col("p.Payment_Methods_Count").alias("Payment_Methods_Count"),
        F.col("o.Ord_Purchase_Time").alias("Order_Timestamp"),
        F.col("o.Ord_Approved_At").alias("Approved_Timestamp"),
        F.col("o.Ord_Delivered_Carrier_Date").alias("Carrier_Delivery_Date"),
        F.col("o.Ord_Delivered_Customer_Date").alias("Customer_Delivery_Date"),
        F.col("o.Ord_Estimated_Delivery_Date").alias("Estimated_Delivery_Date"),
        F.datediff("o.Ord_Approved_At", "o.Ord_Purchase_Time").alias("Approval_Days"),
        F.datediff("o.Ord_Delivered_Customer_Date", "o.Ord_Purchase_Time").alias(
            "Total_Delivery_Days"
        ),
        F.current_timestamp().alias("Load_Timestamp"),
    )


def build_fact_reviews(order_reviews: DataFrame, orders: DataFrame) -> DataFrame:
    """Fact_Reviews at review grain (reporting.py:365-409)."""
    joined = order_reviews.alias("r").join(orders.alias("o"), "Ord_ID")
    msg = F.col("r.Rev_Comment_Message")
    title = F.col("r.Rev_Comment_Title")
    return joined.select(
        _sk("r.Rev_ID").alias("Review_SK"),
        F.col("r.Rev_ID").alias("Review_ID"),
        F.col("Ord_ID").alias("Order_ID"),
        F.col("o.Cus_ID").alias("Customer_ID"),
        F.col("r.Rev_Score").cast("int").alias("Review_Score"),
        F.date_format("r.Rev_Creation_Date", "yyyyMMdd").cast("int").alias("Review_Date_SK"),
        F.hour("r.Rev_Creation_Date").alias("Review_Time_SK"),
        title.alias("Review_Title"),
        msg.alias("Review_Message"),
        F.length(msg).alias("Comment_Length"),
        F.when(msg.isNull() | (msg == ""), 0).otherwise(1).alias("Has_Comment"),
        F.when(title.isNull() | (title == ""), 0).otherwise(1).alias("Has_Title"),
        F.col("r.Rev_Creation_Date").alias("Review_Creation_Date"),
        F.col("r.Rev_Answer_Timestamp").alias("Review_Answer_Date"),
        F.datediff("r.Rev_Answer_Timestamp", "r.Rev_Creation_Date").alias("Response_Days"),
        F.current_timestamp().alias("Load_Timestamp"),
    )


def build_gold(
    spark: SparkSession, silver: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """All 9 dims + 3 facts as lazy DataFrames."""
    return {
        "dim_date": build_dim_date(silver["orders"]),
        "dim_time": build_dim_time(spark),
        "dim_customers": build_dim_customers(silver["customers"]),
        "dim_products": build_dim_products(silver["products"]),
        "dim_sellers": build_dim_sellers(silver["sellers"]),
        "dim_geography": build_dim_geography(silver["geolocation"]),
        "dim_order_status": build_dim_order_status(silver["orders"]),
        "dim_payment_types": build_dim_payment_types(silver["order_payments"]),
        "dim_review_scores": build_dim_review_scores(silver["order_reviews"]),
        "fact_sales": build_fact_sales(
            silver["order_items"], silver["orders"], silver["order_payments"]
        ),
        "fact_orders": build_fact_orders(
            silver["orders"], silver["order_payments"], silver["order_items"]
        ),
        "fact_reviews": build_fact_reviews(silver["order_reviews"], silver["orders"]),
    }


# Facts get partition columns derived from their Date_SK for dynamic
# partition pruning at scale; dims are single-file small tables.
FACT_PARTITIONING: dict[str, str] = {
    "fact_sales": "Order_Date_SK",
    "fact_orders": "Order_Date_SK",
    "fact_reviews": "Review_Date_SK",
}


def run_gold(
    spark: SparkSession, silver_dir: str, gold_dir: str
) -> dict[str, DataFrame]:
    from ..sources.writers import write_parquet
    from .silver import read_silver

    gold = build_gold(spark, read_silver(spark, silver_dir))
    for name, df in gold.items():
        part_col = FACT_PARTITIONING.get(name)
        if part_col is not None:
            df = df.withColumn("__part_year", (F.col(part_col) / 10000).cast("int"))
            write_parquet(df, f"{gold_dir}/{name}", partition_by=("__part_year",))
        else:
            write_parquet(df, f"{gold_dir}/{name}")
    return gold
