"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (monthly revenue + YoY%) at
sf0.001. ``queries()``/``oracle_sql()`` expose the full registry from
``brazilian_e_commerce_data_pipeline_analytics_spark.registry`` — one entry per implemented operator
from SURVEY.md §2, EVERY one with a DuckDB oracle (zero rows-only
entries since round 6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from brazilian_e_commerce_data_pipeline_analytics_spark.registry import oracle_queries, spark_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    # The registered builder, so the driver's session gets ENGINE_CONF.
    return spark_queries()["q20_monthly_revenue_yoy"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return oracle_queries()
