"""Bucketed-table co-location (SURVEY.md §2.1 S7 scale path, §2.3 note).

At 100 TB the dominant join cost is shuffling both sides of a big-big
equi-join. Writing both tables bucketed on the join key makes every
subsequent join on that key shuffle-FREE: Spark trusts the bucket
layout and runs a zipped sort-merge per bucket. This test pins that
claim: same results as the plain join, zero shuffle exchanges in the
plan (broadcast disabled so the shuffle elision is what's measured).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import exchange_count
from brazilian_e_commerce_data_pipeline_analytics_spark.session import conf_scope
from brazilian_e_commerce_data_pipeline_analytics_spark.sources.writers import write_bucketed_table

from .conftest import SF_SMALL

N_BUCKETS = 4


def _drop_table_and_location(spark, qualified: str) -> None:
    """DROP the table AND its warehouse directory. A run killed between
    saveAsTable and the DROP leaves an orphaned location a fresh
    session's catalog doesn't know about, and the next saveAsTable dies
    with LOCATION_ALREADY_EXISTS — so clear both, not just the
    catalog entry."""
    spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    db, _, tbl = qualified.partition(".")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    shutil.rmtree(os.path.join(wh, f"{db}.db", tbl), ignore_errors=True)


@pytest.fixture(scope="module")
def bucketed(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    _drop_table_and_location(spark, "bktest.lineitem_b")
    _drop_table_and_location(spark, "bktest.orders_b")
    write_bucketed_table(
        load_table(spark, SF_SMALL, "lineitem"),
        "bktest.lineitem_b",
        bucket_by=["l_orderkey"],
        n_buckets=N_BUCKETS,
        sort_by=["l_orderkey"],
    )
    write_bucketed_table(
        load_table(spark, SF_SMALL, "orders"),
        "bktest.orders_b",
        bucket_by=["o_orderkey"],
        n_buckets=N_BUCKETS,
        sort_by=["o_orderkey"],
    )
    yield
    spark.sql("DROP TABLE IF EXISTS bktest.lineitem_b")
    spark.sql("DROP TABLE IF EXISTS bktest.orders_b")
    spark.sql("DROP DATABASE IF EXISTS bktest")


def _joined(spark):
    li = spark.table("bktest.lineitem_b")
    o = spark.table("bktest.orders_b")
    return li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("qty"),
    )


def test_bucketed_join_has_no_shuffle_on_join(spark, bucketed):
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = _joined(spark)
        # the only exchange is the post-join aggregation on the 5 priority
        # keys; the join itself is bucket-wise, shuffle-free
        assert exchange_count(df) == 1


def test_bucketed_join_matches_plain_join(spark, bucketed):
    li = load_table(spark, SF_SMALL, "lineitem")
    o = load_table(spark, SF_SMALL, "orders")
    plain = {
        r["o_orderpriority"]: (r["n"], r["qty"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("qty"),
        )
        .collect()
    }
    bucketed_rows = {
        r["o_orderpriority"]: (r["n"], r["qty"]) for r in _joined(spark).collect()
    }
    assert bucketed_rows == plain


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned gold layout + a partition-key predicate → the
    scan lists ONLY the matching partition directories (the 100-TB date-
    range pattern: touch 1 day of 3 years, read 1/1000th)."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan
    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.writers import write_parquet

    o = load_table(spark, SF_SMALL, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_parquet(o, path, partition_by=("o_year",))

    df = (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1995)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan
    # correctness of the pruned read
    expected = {
        (r["o_orderstatus"], r["n"])
        for r in o.filter(F.col("o_year") == 1995)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r["o_orderstatus"], r["n"]) for r in df.collect()} == expected


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partition layout + DPP: a fact table partitioned on the join key
    must have its scan pruned at RUNTIME by the dim-side filter (the
    broadcast result seeds a dynamicpruning subquery) — at 100 TB this
    is the difference between scanning 7 years and scanning the one
    year the dim filter selects."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact_part")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.withColumn("o_year", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "o_year"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("o_year"),
        (F.col("id") % 2 == 1).alias("odd"),
    )
    with conf_scope(spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "true"}):
        joined = fact.join(dim.filter(F.col("odd")), "o_year").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        n = joined.collect()[0]["n"]
        expected = (
            orders.filter(F.year("o_orderdate").isin([1995, 1997, 1999, 2001])).count()
        )
        assert n == expected


def test_band_key_index_join_is_shuffle_free_on_history(spark):
    """SCALING.md's q133 claim: persist the history band-key index
    bucketed by its join key and the daily batch join needs NO exchange
    on the history side (only the small batch side shuffles to align).
    The index key is the single concatenated (band:key) string so the
    bucket spec and the join key coincide exactly.
    """
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.dedup_q import (
        _Q101_BANDS,
        _Q101_K,
    )
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.minhash import (
        band_keys,
        portable_signatures,
    )
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.sampling import (
        portable_bucket,
    )
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import simple_plan

    d = load_table(spark, SF_SMALL, "documents")
    sh, both = portable_signatures(d, "doc_id", "text", n=3, k=_Q101_K)
    banded = band_keys(both, "doc_id", _Q101_K, _Q101_BANDS).select(
        "doc_id", F.concat_ws(":", F.col("band").cast("string"), "key").alias("bkey")
    )
    is_hist = portable_bucket("doc_id", 5) < 8000
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    _drop_table_and_location(spark, "bktest.band_index")
    try:
        write_bucketed_table(
            banded.filter(is_hist).select(F.col("doc_id").alias("doc_hist"), "bkey"),
            "bktest.band_index",
            bucket_by=["bkey"],
            n_buckets=N_BUCKETS,
            sort_by=["bkey"],
        )
        hist = spark.table("bktest.band_index")
        batch = banded.filter(~is_hist).select(F.col("doc_id").alias("doc_new"), "bkey")
        with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = batch.join(hist, "bkey").select("doc_new", "doc_hist")
            plan = simple_plan(joined)
            # exactly ONE hash exchange in the whole plan: the batch side
            # aligning to the index's bucket layout; the history side
            # reads straight from the bucketed files
            assert plan.count("Exchange hashpartitioning(bkey") == 1
            hist_subtree = plan.split("FileScan parquet bktest.band_index")[0]
            assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
            assert joined.count() > 0
    finally:
        sh.unpersist()
        spark.sql("DROP TABLE IF EXISTS bktest.band_index")
