"""Session-level pins: Catalyst's generated-class cache holds a long-lived
session's working set, so a warm re-run compiles nothing; ``conf_scope``
puts every key it touched back as it was."""

from __future__ import annotations

import pytest

from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
from brazilian_e_commerce_data_pipeline_analytics_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    conf_scope,
)

from .conftest import SF_SMALL

# Plan-stable on a warm re-run, and together larger than Spark's default
# cache of 100 classes: a first pass in a fresh session compiles
# 11 + 31 + 32 + 35 + 35 = 144 (sf0.001). q28 is left out: after AQE
# re-plans it sometimes compiles a few new classes.
WARM_SET = (
    "q01_pricing_summary",
    "q20_monthly_revenue_yoy",
    "q54_sessions_batch",
    "q45_ngram_jaccard_pairs",
    "q57_knn_pandas_udf",
)


def test_warm_pass_compiles_no_generated_class(spark):
    """The second pass over WARM_SET finds every generated class in the
    cache. With the default 100 entries the LRU evicts each class before
    its next use and the second pass recompiles all 144."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    builders = spark_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in WARM_SET:
            builders[name](spark, SF_SMALL).collect()
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0


_SET_KEY = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.cbo.enabled"


def test_conf_scope_restores_a_set_key(spark):
    before = spark.conf.get(_SET_KEY)
    with conf_scope(spark, {_SET_KEY: "3"}):
        assert spark.conf.get(_SET_KEY) == "3"
    assert spark.conf.get(_SET_KEY) == before


def test_conf_scope_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with conf_scope(spark, {_UNSET_KEY: "true"}):
        assert spark.conf.get(_UNSET_KEY) == "true"
    assert spark.conf.get(_UNSET_KEY, None) is None
    assert _UNSET_KEY not in spark.conf.getAll


def test_conf_scope_restores_both_when_the_body_raises(spark):
    before = spark.conf.get(_SET_KEY)
    with pytest.raises(ValueError, match="body failed"):
        with conf_scope(spark, {_SET_KEY: "3", _UNSET_KEY: "true"}):
            raise ValueError("body failed")
    assert spark.conf.get(_SET_KEY) == before
    assert _UNSET_KEY not in spark.conf.getAll
