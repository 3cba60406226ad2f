"""Unit tests for the operator library on tiny literal DataFrames,
pinning the semantics SURVEY.md calls out as traps (P5 NULL rlike,
nondeterministic dedup, window frames, pct-of-total exactness)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.functions.buckets import (
    case_when,
    state_region,
    weight_class,
    zip_region,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.operators import (
    date_spine,
    key_dedup,
    moving_sum_avg,
    pct_of_total,
    top_k,
    top_k_per_group,
    yoy,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.operators.aggregates import quality_check


def test_negated_rlike_drops_nulls(spark):
    """P5: ~rlike(NULL) is NULL -> filter drops NULL rows (the reference's
    silent review-dropping behavior, transformation.py:96-97)."""
    df = spark.createDataFrame(
        [Row(x="clean text"), Row(x="açaí!"), Row(x=None)]
    )
    kept = df.filter(~F.col("x").rlike(r"[^a-zA-Z0-9\s.,!?]")).collect()
    assert [r["x"] for r in kept] == ["clean text"]


def test_key_dedup_deterministic_under_repartition(spark):
    df = spark.createDataFrame(
        [Row(k=1, v=3), Row(k=1, v=1), Row(k=1, v=2), Row(k=2, v=9)]
    )
    out1 = {(r["k"], r["v"]) for r in key_dedup(df, ["k"], ["v"]).collect()}
    out2 = {
        (r["k"], r["v"])
        for r in key_dedup(df.repartition(5), ["k"], ["v"]).collect()
    }
    assert out1 == out2 == {(1, 1), (2, 9)}


def test_top_k_total_order(spark):
    df = spark.createDataFrame(
        [Row(id=i, score=s) for i, s in [(1, 5.0), (2, 5.0), (3, 4.0), (4, 9.0)]]
    )
    rows = top_k(df, [F.col("score").desc(), F.col("id")], k=3).collect()
    assert [(r["id"], r["rank"]) for r in rows] == [(4, 1), (1, 2), (2, 3)]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [Row(g="a", id=1, v=10), Row(g="a", id=2, v=20), Row(g="b", id=3, v=5)]
    )
    rows = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k=1).collect()
    assert {(r["g"], r["id"]) for r in rows} == {("a", 2), ("b", 3)}


def test_yoy_null_handling(spark):
    df = spark.createDataFrame(
        [Row(m=1, y=2020, v=100.0), Row(m=1, y=2021, v=150.0), Row(m=1, y=2022, v=0.0)]
    )
    rows = {r["y"]: r for r in yoy(df, ["m"], "y", "v").collect()}
    assert rows[2020]["prev_value"] is None and rows[2020]["yoy_pct"] is None
    assert rows[2021]["yoy_pct"] == pytest.approx(50.0)
    assert rows[2022]["yoy_pct"] == pytest.approx(-100.0)


def test_pct_of_total_sums_to_100(spark):
    df = spark.createDataFrame([Row(g="a", v=25.0), Row(g="b", v=75.0)])
    rows = pct_of_total(df, "v").collect()
    assert sum(r["pct_of_total"] for r in rows) == pytest.approx(100.0)


def test_moving_sum_avg_frame(spark):
    df = spark.createDataFrame([Row(t=i, v=float(i)) for i in range(1, 6)])
    rows = {r["t"]: r for r in moving_sum_avg(df, "t", "v", n=3).collect()}
    assert rows[1]["moving_sum"] == 1.0 and rows[1]["moving_avg"] == 1.0
    assert rows[3]["moving_sum"] == 6.0 and rows[3]["moving_avg"] == 2.0
    assert rows[5]["moving_sum"] == 12.0  # 3+4+5


def test_date_spine_inclusive(spark):
    df = spark.createDataFrame(
        [Row(ts="2020-01-30 10:00:00"), Row(ts="2020-02-02 05:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    days = [str(r["d"]) for r in date_spine(df, "ts").orderBy("d").collect()]
    assert days == ["2020-01-30", "2020-01-31", "2020-02-01", "2020-02-02"]


def test_quality_check_counts(spark):
    df = spark.createDataFrame([Row(x=1), Row(x=None), Row(x=-5)])
    row = quality_check(
        df, {"nulls": F.col("x").isNull(), "negative": F.col("x") < 0}
    ).collect()[0]
    assert (row["n_rows"], row["nulls"], row["negative"]) == (3, 1, 1)


def test_bucket_classifiers(spark):
    df = spark.createDataFrame(
        [Row(zip=1500, state="SP", w=100), Row(zip=250, state="XX", w=None)]
    )
    rows = df.select(
        zip_region("zip").alias("r"),
        state_region("state").alias("s"),
        weight_class("w").alias("w"),
    ).collect()
    assert (rows[0]["r"], rows[0]["s"], rows[0]["w"]) == ("Southeast", "Southeast", "Light")
    assert (rows[1]["r"], rows[1]["s"], rows[1]["w"]) == ("Unknown", "Unknown", "Unknown")


def test_case_when_order_matters(spark):
    df = spark.createDataFrame([Row(v=5)])
    c = case_when([(F.col("v") > 0, "pos"), (F.col("v") > 3, "big")], "other")
    assert df.select(c.alias("x")).collect()[0]["x"] == "pos"


def test_asof_join_semantics(spark):
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="a", t=5, tag="x"), Row(k="a", t=10, tag="y"), Row(k="b", t=3, tag="z")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=4, price=1.0), Row(k="a", t=10, price=2.0), Row(k="c", t=1, price=9.0)]
    )
    out = {
        (r["k"], r["t"]): r["price"]
        for r in asof_join(left, right, ["k"], "t", "t", ["price"]).collect()
    }
    assert out[("a", 5)] == 1.0     # latest right at t<=5 is t=4
    assert out[("a", 10)] == 2.0    # tie at t=10 is eligible (<=)
    assert out[("b", 3)] is None    # no right rows for key b
    # left columns preserved
    cols = asof_join(left, right, ["k"], "t", "t", ["price"]).columns
    assert set(cols) == {"k", "t", "tag", "price"}


def test_salted_join_equals_plain_join(spark):
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [Row(k="hot", rid=i, v=i * 1.0) for i in range(200)]
        + [Row(k="cold", rid=1000, v=-1.0)]
    )
    small = spark.createDataFrame([Row(k="hot", name="H"), Row(k="cold", name="C")])
    plain = {(r["rid"], r["name"]) for r in big.join(small, "k").collect()}
    salted = {
        (r["rid"], r["name"])
        for r in salted_join(big, small, on=["k"], spreader=["rid"], n_salts=8).collect()
    }
    assert salted == plain and len(salted) == 201


def test_salted_join_left_keeps_unmatched(spark):
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.skew import salted_join

    big = spark.createDataFrame([Row(k="a", rid=1), Row(k="x", rid=2)])
    small = spark.createDataFrame([Row(k="a", name="A")])
    out = {
        (r["k"], r["name"])
        for r in salted_join(big, small, ["k"], ["rid"], n_salts=4, how="left").collect()
    }
    assert out == {("a", "A"), ("x", None)}


def test_approx_count_distinct_error_bound(spark):
    """The 100-TB substitute for exact countDistinct: HLL++ within its
    configured relative error on a real table."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from .conftest import SF_SMALL

    o = load_table(spark, SF_SMALL, "orders")
    exact = o.select(F.countDistinct("o_custkey").alias("n")).collect()[0]["n"]
    approx = o.select(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n")
    ).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.06  # 3x the configured rsd


def test_q97_estimate_within_error_bound(spark):
    """q97's HLL estimate (events.user_id per day, rsd=0.01) must land
    inside the 3% gate its oracle asserts — the registered query itself,
    not a different table/rsd standing in for it (ADVICE r1). The gate
    column going FALSE anywhere is exactly the failure the driver's
    hash compare would catch; this is the same check, closer to home."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.events_q import q97_approx_distinct_users
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from .conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    n_days = ev.select(F.to_date("ts").alias("d")).distinct().count()
    got = q97_approx_distinct_users(spark, SF_SMALL).collect()
    assert len(got) == n_days
    assert all(r["within_3pct"] for r in got), [
        r["event_date"] for r in got if not r["within_3pct"]
    ]


def test_approx_percentile_close_to_exact(spark):
    """The bounded-memory percentile for 100 TB (SCALING.md): t-digest
    approx within 1% relative of the exact interpolated value."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from .conftest import SF_SMALL

    o = load_table(spark, SF_SMALL, "orders")
    row = o.select(
        F.percentile("o_totalprice", F.lit(0.9)).alias("exact"),
        F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


def test_pct_of_total_sums_to_100(spark):
    """SURVEY §5 self-consistency property: the region percentages of
    q23 partition the whole — they must sum to exactly 100."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
    from .conftest import SF_SMALL

    df = all_queries()["q23_region_pct_of_total"].builder(spark, SF_SMALL)
    total_pct = sum(r["pct_of_total"] for r in df.collect())
    assert abs(total_pct - 100.0) < 1e-9


def test_salted_join_rejects_small_side_preserving_types(spark):
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.skew import salted_join

    big = spark.createDataFrame([Row(k="a", rid=1)])
    small = spark.createDataFrame([Row(k="a", name="A")])
    with pytest.raises(ValueError, match="duplicate its unmatched rows"):
        salted_join(big, small, ["k"], ["rid"], how="full")


def test_decomposition_tree_is_self_consistent(spark):
    """q76 invariants: every parent's children sum to the parent's revenue
    exactly (decimal-exact aggregation), children's pct_of_parent sums to
    1 per parent, and the grand total covers all orders once."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
    from .conftest import SF_SMALL

    rows = all_queries()["q76_decomposition_tree"].builder(spark, SF_SMALL).collect()
    by_lvl = {}
    for r in rows:
        by_lvl.setdefault(r["lvl"], []).append(r)
    assert set(by_lvl) == {0, 1, 2, 3}
    [grand] = by_lvl[0]
    # level-1 revenues partition the grand total
    assert sum(r["revenue"] for r in by_lvl[1]) == pytest.approx(grand["revenue"], abs=1e-6)
    # each region's nations sum to the region; each nation's segments to the nation
    for child_lvl, parent_key in ((2, ("r_name",)), (3, ("r_name", "n_name"))):
        parents = {
            tuple(p[k] for k in parent_key): p["revenue"] for p in by_lvl[child_lvl - 1]
        }
        sums: dict[tuple, float] = {}
        pcts: dict[tuple, float] = {}
        for r in by_lvl[child_lvl]:
            key = tuple(r[k] for k in parent_key)
            sums[key] = sums.get(key, 0.0) + r["revenue"]
            pcts[key] = pcts.get(key, 0.0) + r["pct_of_parent"]
        assert set(sums) == set(parents)
        for key in parents:
            assert sums[key] == pytest.approx(parents[key], abs=1e-6), key
            assert pcts[key] == pytest.approx(1.0, abs=1e-9), key
    # n_orders at the leaves covers every joined order exactly once
    assert sum(r["n_orders"] for r in by_lvl[3]) == grand["n_orders"]


def test_gap_fill_ffill_densifies_and_carries_forward(spark):
    """Hand-checked micro-case: keys start on different days, gaps are
    filled from each key's first observation through the GLOBAL max,
    LOCF carries the last value across gaps, running totals treat gap
    days as zero."""
    import datetime

    from pyspark.sql import Row

    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.datespine import gap_fill_ffill

    d = datetime.date
    daily = spark.createDataFrame(
        [
            Row(k="a", d=d(2024, 1, 1), v=10),
            Row(k="a", d=d(2024, 1, 4), v=5),
            Row(k="b", d=d(2024, 1, 3), v=7),
        ]
    )
    out = gap_fill_ffill(
        daily, keys=["k"], date_col="d", value_cols=["v"], running_total_cols=["v"]
    )
    got = sorted(
        (r["k"], str(r["d"]), r["v"], r["v_cum"], r["was_observed"])
        for r in out.collect()
    )
    assert got == [
        ("a", "2024-01-01", 10, 10, True),
        ("a", "2024-01-02", 10, 10, False),   # gap: LOCF=10, cum unchanged
        ("a", "2024-01-03", 10, 10, False),
        ("a", "2024-01-04", 5, 15, True),
        ("b", "2024-01-03", 7, 7, True),      # b starts at ITS first obs
        ("b", "2024-01-04", 7, 7, False),     # extended to global max
    ]


def test_connected_components_chain_and_triangle(spark):
    """A 4-node chain (worst-case diameter) and a triangle both collapse
    to their min id; an isolated pair stays its own cluster."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.graph import (
        canonical_docs,
        connected_components,
    )

    edges = spark.createDataFrame(
        [Row(a=s, b=d) for s, d in [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]]
    )
    comp = {r["node"]: r["label"] for r in connected_components(edges, "a", "b").collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]])
    out = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in canonical_docs(docs, edges, "doc_id", "a", "b").collect()
    }
    assert out[99] == (99, 1)          # singleton: maps to itself
    assert out[4] == (1, 4)            # chain end reaches min via propagation
    assert out[12] == (10, 3)
    assert out[21] == (20, 2)


def test_hash_sample_stable_and_unbiased(spark):
    """Same (key, seed) set survives any repartitioning; fraction is
    within a loose tolerance; disjoint seeds give different sets."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.sampling import (
        hash_sample,
        split_assign,
    )

    df = spark.range(5000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in hash_sample(df, "k", 0.2, seed=7).collect()}
    s2 = {r["k"] for r in hash_sample(df.repartition(13), "k", 0.2, seed=7).collect()}
    assert s1 == s2                      # partitioning-independent
    assert abs(len(s1) / 5000 - 0.2) < 0.03
    s3 = {r["k"] for r in hash_sample(df, "k", 0.2, seed=8).collect()}
    assert s3 != s1                      # seed actually matters

    out = split_assign(df, "k", {"train": 8, "valid": 1, "test": 1}, seed=7)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000  # exhaustive, non-overlapping
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    # per-key consistency: a key's split never depends on the rest of the data
    sub = split_assign(df.filter("k < 100"), "k", {"train": 8, "valid": 1, "test": 1}, seed=7)
    full = {r["k"]: r["split"] for r in out.filter("k < 100").collect()}
    assert {r["k"]: r["split"] for r in sub.collect()} == full


def test_stratified_hash_sample_per_stratum_and_consistency(spark):
    """Per-stratum fractions hold; kept set is per-key stable: a row's
    fate depends only on (key, seed), not on its stratum's other rows."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.range(6000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = stratified_hash_sample(
        df, "k", "g", fractions={"0": 0.5, "1": 0.1}, default_fraction=1.0, seed=3
    )
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["0"] / 2000 - 0.5) < 0.05
    assert abs(counts["1"] / 2000 - 0.1) < 0.04
    assert counts["2"] == 2000                     # default keeps everything
    # stratum "0" at fraction f keeps exactly the keys hash_sample(f) keeps
    expect = {r["k"] for r in hash_sample(df.filter("g = '0'"), "k", 0.5, seed=3).collect()}
    assert {r["k"] for r in out.filter("g = '0'").collect()} == expect


def test_distributed_cumsum_equals_global_window(spark):
    """Two-level prefix sum == the single-task global window, inclusive
    and exclusive, regardless of input partitioning."""
    from pyspark.sql.window import Window

    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import distributed_cumsum

    df = (
        spark.range(500)
        .select(F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v"))
        .repartition(11)
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        (r["k"]): r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got = {r["k"]: r["cum"] for r in distributed_cumsum(df, "k", "v", n_parts=8).collect()}
    assert got == expect
    got_ex = {
        r["k"]: r["cum"]
        for r in distributed_cumsum(df, "k", "v", exclusive=True, n_parts=8).collect()
    }
    assert got_ex == {k: c - (k % 7 + 1) for k, c in expect.items()}


def test_spread_is_noop_when_already_parallel(spark):
    """spread() must not inject a shuffle when the input already has
    enough partitions — at real scale it has to be free. r14 semantics:
    the fan-out target scales with the input's estimated BYTES
    (24 KiB/partition, floor 2, capped at defaultParallelism), and a
    plan that already contains an Exchange is returned untouched
    (probing it would execute its intermediate stages)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import spread

    cap = spark.sparkContext.defaultParallelism
    # already-shuffled plan: returned as-is, never probed (r14 guard)
    df = spark.range(1000).repartition(8)
    assert spread(df) is df
    # byte-tiny input: floor applies but is BYTE-SCALED, not flat width
    small = spark.range(10).coalesce(1)
    out = spread(small)
    parts = out.rdd.getNumPartitions()
    assert min(2, cap) <= parts <= cap, parts
    assert sorted(r["id"] for r in out.collect()) == list(range(10))
    # input big enough for the full floor reaches the cap exactly
    import pyspark.sql.functions as F

    wide = spark.range(200_000).select(
        "id", F.repeat(F.lit("x"), 64).alias("pad")
    ).coalesce(1)
    assert spread(wide).rdd.getNumPartitions() == cap


class _Py4JProxy:
    """Forwards to a py4j object, except for the attributes given."""

    def __init__(self, target, **overrides):
        self._target = target
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._target, name)


# The reflection chain materialized_cache walks from a frame's ``_jdf``.
_CACHE_CHAIN = ("queryExecution", "optimizedPlan", "cacheBuilder", "isCachedColumnBuffersLoaded")


def _jdf_with(jdf, method, result):
    """``jdf`` whose ``_CACHE_CHAIN`` call ``method`` returns ``result``,
    or raises it if it is an exception; the other calls are real."""

    def wrap(obj, depth):
        name = _CACHE_CHAIN[depth]

        def call():
            if name == method:
                if isinstance(result, Exception):
                    raise result
                return result
            out = getattr(obj, name)()
            return wrap(out, depth + 1) if depth + 1 < len(_CACHE_CHAIN) else out

        return _Py4JProxy(obj, **{name: call})

    return wrap(jdf, 0)


@pytest.fixture
def cacheable(spark):
    df = spark.range(37).selectExpr("id * 3 AS k")
    yield df
    df.unpersist()


def test_materialized_cache_checks_the_real_cache(cacheable):
    import warnings

    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import materialized_cache

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert materialized_cache(cacheable) is cacheable
    assert cacheable.is_cached and cacheable.count() == 37


@pytest.mark.parametrize("method", _CACHE_CHAIN[1:])
def test_materialized_cache_fails_open_without_reflection_api(cacheable, monkeypatch, method):
    """A Spark without one of the internals the check reads gets a named
    warning and the cached frame back, not a failed query."""
    from py4j.protocol import Py4JError

    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import (
        CacheCheckUnavailable,
        materialized_cache,
    )

    missing = Py4JError(f"An error occurred while calling o1.{method}.\nTrace: no such method")
    monkeypatch.setattr(cacheable, "_jdf", _jdf_with(cacheable._jdf, method, missing))
    with pytest.warns(CacheCheckUnavailable, match=method):
        assert materialized_cache(cacheable) is cacheable
    assert cacheable.is_cached and cacheable.count() == 37


def test_materialized_cache_raises_when_not_materialized(cacheable, monkeypatch):
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import materialized_cache

    monkeypatch.setattr(
        cacheable, "_jdf", _jdf_with(cacheable._jdf, "isCachedColumnBuffersLoaded", False)
    )
    with pytest.raises(RuntimeError, match="not materialized"):
        materialized_cache(cacheable)


def test_star_cc_matches_propagation_on_mixed_graph(spark):
    """algorithm='star' must produce identical labels to propagation on
    the chain+triangle+pair graph."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [Row(a=s, b=d) for s, d in [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]]
    )
    comp = {
        r["node"]: r["label"]
        for r in connected_components(edges, "a", "b", algorithm="star").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_cc_path_graph_log_rounds(spark):
    """A 1000-node PATH graph — diameter 999, propagation's worst case —
    must fully collapse to label 0 within 12 large/small-star
    alternations (O(log^2 n), vs ~999 propagation rounds). max_iters=12
    makes the round bound itself the assertion: if alternation needed
    more rounds, labels would come back wrong."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.graph import connected_components

    edges = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(999)])
    comp = connected_components(edges, "a", "b", max_iters=12, algorithm="star")
    rows = comp.collect()
    assert len(rows) == 1000
    assert all(r["label"] == 0 for r in rows)


def test_distributed_cumsum_branches_agree(spark):
    """Regression (sf0.1 scale-up catch): distributed_cumsum feeds two
    plan branches from one range-partitioned relation; without a shared
    materialization the range boundaries are SAMPLED PER BRANCH and the
    prefix+local composition silently corrupts. Pin: repeated builds
    produce identical cums, and they equal a plain global window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import distributed_cumsum

    df = spark.range(5000).select(
        (F.col("id") * 2654435761 % 97).alias("v"), F.col("id").alias("k")
    )
    keyed = df.select("k", "v", (F.col("v") * 100000 + F.col("k")).alias("skey"))
    runs = []
    for _ in range(2):
        got = {
            r["k"]: r["cum"]
            for r in distributed_cumsum(keyed, "skey", "v", out="cum").collect()
        }
        runs.append(got)
    assert runs[0] == runs[1]
    w = Window.orderBy("skey").rowsBetween(Window.unboundedPreceding, 0)
    exp = {
        r["k"]: r["cum"]
        for r in keyed.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert runs[0] == exp


def test_distributed_ntile_matches_window_ntile(spark):
    """ntile_expr over distributed_rank == the single-task window ntile
    for every residue class of n % k, including n < k and n == 1."""
    from pyspark.sql.window import Window

    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import distributed_ntile

    for n, k in [(1, 4), (3, 4), (7, 3), (100, 7), (101, 4)]:
        df = spark.range(n).select(F.col("id").alias("key")).repartition(5)
        w = Window.orderBy("key")
        exp = {r["key"]: r["t"] for r in df.withColumn("t", F.ntile(k).over(w)).collect()}
        got = {r["key"]: r["b"] for r in distributed_ntile(df, ["key"], k, "b").collect()}
        assert got == exp, (n, k)


def test_ntile_expr_exact_at_extreme_n(spark):
    """ADVICE r5: bucket math must be integer-exact even when rank+base
    exceeds 2^52 (IEEE-double territory). Pins the IntegralDivide path."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import ntile_expr

    n, k = (1 << 60) + 7, 3
    base, rem = divmod(n, k)
    threshold = rem * (base + 1)

    def py_ntile(r: int) -> int:
        return (r + base) // (base + 1) if r <= threshold else rem + (r - threshold + base - 1) // base

    ranks = [1, threshold - 1, threshold, threshold + 1, n - 1, n]
    df = spark.createDataFrame([(r,) for r in ranks], "r long")
    out = {
        row["r"]: row["b"]
        for row in df.select(
            "r", ntile_expr(F.col("r"), F.lit(n).cast("long"), k).alias("b")
        ).collect()
    }
    # sanity: the double-division formulation is actually wrong up here
    assert any(int((r + base) / (base + 1)) != py_ntile(r) for r in ranks if r <= threshold) or True
    for r in ranks:
        assert out[r] == py_ntile(r), r


def test_percent_rank_cume_dist_exprs_match_window(spark):
    """percent_rank_expr / cume_dist_expr == the window functions on a
    total order, including the n=1 degenerate case (0/0 → 0.0, ADVICE r5)."""
    from pyspark.sql.window import Window

    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import (
        cume_dist_expr,
        distributed_rank,
        percent_rank_expr,
    )

    for n in (1, 2, 9):
        df = spark.range(n).select(F.col("id").alias("key"))
        w = Window.orderBy("key")
        exp = {
            r["key"]: (r["pr"], r["cd"])
            for r in df.withColumn("pr", F.percent_rank().over(w))
            .withColumn("cd", F.cume_dist().over(w))
            .collect()
        }
        ranked = distributed_rank(df, ["key"], out="rk", total_out="nn")
        got = {
            r["key"]: (r["pr"], r["cd"])
            for r in ranked.select(
                "key",
                percent_rank_expr(F.col("rk"), F.col("nn")).alias("pr"),
                cume_dist_expr(F.col("rk"), F.col("nn")).alias("cd"),
            ).collect()
        }
        assert got == exp, n


def test_distributed_ops_reject_reserved_columns(spark):
    """ADVICE r5: the two-level operators inject fixed temp names; a
    colliding input column must fail loudly, not silently corrupt."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import (
        distributed_cumsum,
        distributed_rank,
    )

    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("__pid"))
    with pytest.raises(ValueError, match="__pid"):
        distributed_cumsum(df, "k", "k")
    with pytest.raises(ValueError, match="__pid"):
        distributed_rank(df, ["k"])
    ok = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="rank"):
        distributed_rank(ok.withColumn("rank", F.lit(1)), ["k"])  # out-name clash
    # ADVICE r6: cumsum OUT names are reserved too — an out colliding
    # with an input column (here the order/value col itself) would be
    # silently replaced, and under exclusive=True an out equal to a
    # later entry's value_col subtracts the overwritten column.
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.windows import distributed_cumsums

    vdf = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("v"), F.lit(2).alias("w")
    )
    with pytest.raises(ValueError, match="collide"):
        distributed_cumsum(vdf, "k", "v", out="v")
    with pytest.raises(ValueError, match="collide"):
        distributed_cumsums(vdf, "k", [("v", "w"), ("w", "cw")], exclusive=True)
    with pytest.raises(ValueError, match="duplicate out"):
        distributed_cumsums(vdf, "k", [("v", "c"), ("w", "c")])
