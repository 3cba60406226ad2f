"""Python DataSource API: partition planning + filter pushdown.

Note: merely IMPLEMENTING pushFilters requires
spark.sql.python.filterPushdown.enabled=true (Spark refuses to
initialize the reader otherwise); the engine's sessions carry it in
``session.ENGINE_CONF``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.sources.pyds import _MULT, ensure_registered


def _read(spark, **opts):
    ensure_registered(spark)
    r = spark.read.format("seqgen")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_seqgen_partition_planning(spark):
    df = _read(spark, n=1000, numPartitions=8)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    assert df.agg(F.min("id"), F.max("id")).collect()[0] == (0, 999)


def test_seqgen_filter_pushdown_prunes_partitions(spark):
    """An id-range predicate reaches pushFilters BEFORE partition
    planning: a 1-row range plans 1 partition, not 8 — and pushdown must
    not change any value (checked against the generator formula)."""
    df = _read(spark, n=5000, numPartitions=8).filter(F.col("id") >= 4999)
    assert df.count() == 1
    assert df.rdd.getNumPartitions() == 1
    got = sorted(
        tuple(r)
        for r in _read(spark, n=5000, numPartitions=8)
        .filter((F.col("id") >= 1200) & (F.col("id") < 4800))
        .collect()
    )
    expect = sorted(
        (i, i % 10, ((i * _MULT) % 1000) / 4.0) for i in range(1200, 4800)
    )
    assert got == expect

