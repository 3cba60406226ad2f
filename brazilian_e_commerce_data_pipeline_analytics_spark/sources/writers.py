"""Sinks (SURVEY.md §2.1 S3/S4).

Parquet replaces the reference's JDBC-overwrite sink
(``ingestion.py:15-22``, ``reporting.py:411-431``): columnar at rest,
parallel writes, no batch-size/isolation/retry knobs needed (Spark task
retries subsume the reference's manual 3-attempt loop).

Scale levers:
- ``partition_by``: hive-style partition dirs → dynamic partition
  pruning on dim joins and partition-wise overwrite.
- ``bucket_by`` (saveAsTable path): co-locates repeated equi-joins on the
  bucket key — both sides bucketed on the join key means NO shuffle at
  join time, the main weapon against big-big join shuffles at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] = ()) -> None:
    """Parquet sink; overwrites ``path``."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Managed bucketed table (metastore-backed saveAsTable)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batch_size: int = 1000,
    **options: str,
) -> None:
    """JDBC sink (overwrites ``table``), kept for parity with the reference's Postgres layer
    (``ingestion.py:15-22``; tuned options ``reporting.py:411-424``:
    batchsize + no transaction isolation). The reference's manual
    3-attempt retry loop is intentionally absent — Spark task retries
    (``spark.task.maxFailures``) already cover transient write failures.
    Executable in-repo against embedded Derby (Spark's bundled
    metastore jars — q104_jdbc_roundtrip, tests/test_jdbc.py); parquet
    remains the primary sink."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .option("isolationLevel", "NONE")
        .mode("overwrite")
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()
