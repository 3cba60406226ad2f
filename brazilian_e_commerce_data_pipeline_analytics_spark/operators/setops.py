"""Set operations (SURVEY.md §2.7) — thin, explicit wrappers.

Spark's ``intersect``/``exceptAll``/``union`` are already correct and
distributed (both implemented as aggregations/joins under the hood);
these wrappers exist so the operator inventory is visible and to pin
DISTINCT vs ALL semantics explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(a: DataFrame, b: DataFrame, by_name: bool = True) -> DataFrame:
    return a.unionByName(b) if by_name else a.union(b)


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)
