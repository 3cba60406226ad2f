"""The per-process schema memo behind ``catalog.load_table``: an
unchanged table is read with its remembered schema (no footer job), and
a rewritten file or a changed inference conf infers again."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import (
    load_table,
    parquet_schema,
    table_path,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import jobs_started
from brazilian_e_commerce_data_pipeline_analytics_spark.session import conf_scope

from .conftest import SF_SMALL


def test_second_load_of_an_unchanged_table_runs_no_job(spark, tmp_path):
    shutil.copy(table_path(SF_SMALL, "orders"), table_path(str(tmp_path), "orders"))
    j0 = jobs_started(spark)
    first = load_table(spark, str(tmp_path), "orders")
    j1 = jobs_started(spark)
    second = load_table(spark, str(tmp_path), "orders")
    j2 = jobs_started(spark)
    assert j1 > j0, "the first read should infer the schema (a footer job)"
    assert j2 == j1, f"the second read ran {j2 - j1} job(s)"
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_name": pa.array(["a", "b", "c"])}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["a", "b", "c"]


def test_scoped_nanos_as_long_change_infers_again(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as a long under ``nanosAsLong``
    and is rejected without it, so a memo that ignored the conf would
    hand the scoped read the long schema instead of raising."""
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with conf_scope(spark, {key: "true"}):
        as_long = parquet_schema(spark, path)
        j0 = jobs_started(spark)
        assert parquet_schema(spark, path) == as_long
        assert jobs_started(spark) == j0
    assert as_long["ts"].dataType.typeName() == "long"
    with conf_scope(spark, {key: "false"}):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            parquet_schema(spark, path)
