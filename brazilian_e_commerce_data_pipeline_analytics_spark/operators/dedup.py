"""Deterministic deduplication (SURVEY.md §2.4 A5/A6).

The reference uses bare ``dropDuplicates(keys)`` (``transformation.py:70,
80,93``; ``reporting.py:189``), whose surviving row is whichever task
finishes first — nondeterministic across runs and unreproducible against
an oracle. Here key-dedup is an ordered pick: ``row_number() OVER
(PARTITION BY keys ORDER BY tiebreaker) = 1``, which any SQL engine can
express identically (DuckDB: ``QUALIFY``).

Scale note: the window is a single hash-partition shuffle on the dedup
keys — identical shuffle shape to ``dropDuplicates`` itself, so
determinism costs nothing extra. Skewed keys are handled by AQE skew
splitting since Spark 3.x cannot split a window partition; if one key
dominates at 100 TB, pre-aggregate with ``min_by`` instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def key_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per key, chosen by ``order_by`` (ascending
    unless the caller passes ``F.col(c).desc()``)."""
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

