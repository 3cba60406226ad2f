"""Aggregation operators (SURVEY.md §2.4).

Covers the reference's agg shapes — global min/max (A1,
``reporting.py:56-59``), per-key wide aggs (A2-A4, ``reporting.py:260-263,
309-321``) and conditional-count quality checks (A7,
``Dag/E-commerce_dag.py:22-37``). The BI layer's "average daily X"
two-level aggregation (A8, ``Readme.md:157-196``) is written inline by
its one query, q10 (``analytics/core.py``).

Determinism: the reference's ``first()`` per group (``reporting.py:263``)
is replaced by ``min``/``max_by`` picks. Money sums go through decimal
(functions/compat.py). All shapes are pure hash aggregations with map-side
partial aggregation — one shuffle on the group key, the minimum possible.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_check(df: DataFrame, checks: Mapping[str, Column]) -> DataFrame:
    """Conditional-count probe: one row, one column per named predicate,
    counting rows where the predicate holds (NULL counts as no).

    In-engine replacement for the reference's Postgres-side quality gate
    (``SUM(CASE WHEN .. THEN 1 ELSE 0 END)``).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, cond in checks.items():
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
    return df.agg(*aggs)


def assert_quality(df: DataFrame, checks: Mapping[str, Column]) -> None:
    """Hard quality gate: raise if any named predicate matches > 0 rows
    (mirrors the DAG's ValueError halt, ``Dag/E-commerce_dag.py:70-73``)."""
    row = quality_check(df, checks).collect()[0]
    failures = {k: row[k] for k in checks if row[k] > 0}
    if failures:
        raise ValueError(f"quality gate failed: {failures}")
