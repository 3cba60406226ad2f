"""Source readers (SURVEY.md §2.1 S1/S2).

Parquet is the primary format (columnar, schema in footer, predicate
pushdown + column pruning for free). CSV always takes an EXPLICIT
schema and a header row — the reference's ``inferschema=true``
(``ingestion.py:12``) costs a full extra pass over the data, which at
100 TB doubles ingest I/O. JDBC is
kept for parity with the reference's Postgres layer and — unlike the
reference's single-partition scans (``transformation.py:15-21``) —
requires explicit partitioning options to parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession, path: str, schema: StructType, **options: str
) -> DataFrame:
    return spark.read.options(header="true", **options).schema(schema).csv(path)


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Parquet scan. Without ``schema`` Spark runs one job to read the
    footers; a known schema skips that job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan; pass partitioning bounds or the scan runs on ONE task."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError("partitioned JDBC scan needs bounds + numPartitions")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
