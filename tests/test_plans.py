"""Physical-plan assertions (SURVEY.md §4): the scale claims each
operator makes — filter pushdown, column pruning, broadcast dim joins,
no Python in core paths, shuffle counts — pinned as tests so a plan
regression fails CI like a wrong value would."""

from __future__ import annotations

from typing import Iterator  # noqa: UP035 — pandas_udf resolves string hints
                             # in the defining module's globals (q311 pin)

import pandas as pd
import pytest

from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import (
    exchange_count,
    formatted_plan,
    has_python_eval,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
from brazilian_e_commerce_data_pipeline_analytics_spark.session import (
    conf_scope,
    ensure_engine_conf,
)

from .conftest import SF_SMALL
from .test_registry import _call_args

QUERIES = all_queries()

# Every registered query built from DataFrame expressions must stay
# JVM-side — Python evaluation in the plan means a 10-100x slowdown at
# scale. (The multimodal decode path uses mapInPandas by design, but its
# registered query q52 is JVM-only.)
CORE = [
    "q01_pricing_summary",
    "q02_items_per_order",
    "q03_region_revenue",
    "q08_dedup_first_line",
    "q19_grouping_sets",
    "q20_monthly_revenue_yoy",
    "q21_top10_customers",
    "q22_top3_parts_per_brand",
    "q27_price_percentiles",
    "q30_events_hourly",
    "q36_salted_user_agg",
    "q37_sliding_windows",
    "q40_token_stats",
    "q44_exact_dedup",
    "q45_ngram_jaccard_pairs",
    "q46p_minhash_lsh_portable",
    "q48_knn_bruteforce",
    "q51_ann_lsh_bucketed",
    "q52_blob_meta",
    "q54_sessions_batch",
]


def test_salted_agg_spreads_then_merges(spark):
    """q36's plan: exactly two exchanges — (key, salt) partial then key
    final — the documented skew shape, not a single hot-key shuffle."""
    df = QUERIES["q36_salted_user_agg"].builder(spark, SF_SMALL)
    assert exchange_count(df) == 2


@pytest.mark.parametrize("name", CORE)
def test_no_python_in_core_plans(spark, name):
    df = QUERIES[name].builder(spark, SF_SMALL)
    assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_q01_filter_pushdown_and_pruning(spark):
    df = QUERIES["q01_pricing_summary"].builder(spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed
    (schema,) = read_schemas(df)
    # column pruning: the 11-column table is read as exactly 7 columns
    assert "l_orderkey" not in schema and "l_partkey" not in schema
    assert "l_quantity" in schema


def test_q05_pushdown_of_range_and_in(spark):
    df = QUERIES["q05_priority_counts"].builder(spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed
    assert "In(o_orderstatus" in pushed or "o_orderstatus" in pushed


def test_dim_joins_broadcast(spark):
    for name in ("q03_region_revenue", "q22_top3_parts_per_brand", "q23_region_pct_of_total"):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert uses_broadcast_join(df), f"{name} should broadcast its dims"


def test_projection_only_query_has_no_shuffle(spark):
    df = QUERIES["q17_scalar_strings"].builder(spark, SF_SMALL)
    assert exchange_count(df) == 0


def test_knn_broadcasts_queries_not_corpus(spark):
    df = QUERIES["q48_knn_bruteforce"].builder(spark, SF_SMALL)
    plan_has_broadcast = uses_broadcast_join(df) or "BroadcastNestedLoopJoin" in (
        __import__(
            "brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain", fromlist=["formatted_plan"]
        ).formatted_plan(df)
    )
    assert plan_has_broadcast


def test_q57_cogroup_no_driver_collect(spark):
    """q57's query side must reach Python workers through the cogrouped
    applyInPandas plan, never a driver-side collect-and-broadcast (the
    round-1 shape: corpus/100 rows through the driver — fatal at 100 TB).
    Pins both the plan node and the module's driver-collect inventory:
    exactly ONE sanctioned .collect( — q342's metadata-sized codebook
    read (k = N/128 seed rows to the driver, broadcast back; the q141
    BPE-merge-table residency class), explicitly marked in its source
    comment. Any NEW collect in this module must be justified here."""
    import inspect

    from brazilian_e_commerce_data_pipeline_analytics_spark.llm import similarity_q
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    df = QUERIES["q57_knn_pandas_udf"].builder(spark, SF_SMALL)
    assert "FlatMapCoGroupsInPandas" in formatted_plan(df)
    src = inspect.getsource(similarity_q)
    assert src.count(".collect(") == 1, "unsanctioned driver collect added"
    collect_line = next(
        ln for ln in src.splitlines() if ".collect(" in ln
    )
    assert "seed_rows" in collect_line  # q342's codebook read, only


def test_single_agg_query_has_one_exchange(spark):
    # q01: partial agg map-side, ONE hash exchange on the tiny group
    # key, final agg. The fixture's single-row-group scan additionally
    # triggers the conditional parallelism floor (opt r13: a round-robin
    # repartition that is a no-op wherever the scan has >= cores
    # splits), so the plan may carry one RoundRobinPartitioning exchange
    # below it — but never a second HASH exchange.
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    df = QUERIES["q01_pricing_summary"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(") == 1
    assert exchange_count(df) <= 2
    # the only exchange beyond the hash agg may be the floor's
    # round-robin — an unintended second shuffle of any OTHER kind
    # must fail here (ADVICE r13)
    assert plan.count("RoundRobinPartitioning(") <= 1
    assert exchange_count(df) == (
        plan.count("hashpartitioning(") + plan.count("RoundRobinPartitioning(")
    )


def test_global_topk_is_distributed_take_ordered(spark):
    """q21's global top-10 must plan as TakeOrderedAndProject (per-
    partition top-k then merge on the driver-side heap), NOT a global
    single-partition window sort — the difference between O(k) and
    O(table) on one task at 100 TB."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    df = QUERIES["q21_top10_customers"].builder(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in formatted_plan(df)
    # q102's vocabulary head takes the same distributed-heap plan: the
    # rank/cum-share window runs over the 30 survivors, never the corpus
    zipf = QUERIES["q102_token_zipf"].builder(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in formatted_plan(zipf)


def test_jdbc_scan_is_partitioned(spark):
    """q104's read-back must plan a PARTITIONED JDBC scan (8 concurrent
    range slices), never the silent 1-task whole-table pull."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    df = QUERIES["q104_jdbc_roundtrip"].builder(spark, SF_SMALL)
    assert "JDBCRelation(orders_rt) [numPartitions=8]" in formatted_plan(df)


def test_gold_pipeline_queries_broadcast_dims(spark):
    """q99/q100: every join in the medallion rollups broadcasts (dims and
    per-order aggregates are small next to the item fact)."""
    for name in ("q99_gold_monthly_state_sales", "q100_gold_payment_mix"):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert uses_broadcast_join(df), name


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling is the engine's no-code-change answer to
    hot keys (the salted operators are the explicit answer). Pin that it
    actually fires: a sort-merge join with one dominant key, under
    test-sized thresholds, must show ``skew=true`` in the FINAL adaptive
    plan — i.e. the hot partition was split into multiple reader tasks,
    which is exactly what rescues a 1000-executor join from one straggler
    task at 100 TB."""
    from pyspark.sql import functions as F

    confs = {
        # make the hot partition count as skewed at test scale
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # force a sort-merge join: broadcast would dodge the shuffle
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        hot = spark.range(200_000).select(F.lit(99).alias("k"), F.col("id").alias("v"))
        uniform = spark.range(3_200).select(
            (F.col("id") % 32).alias("k"), F.col("id").alias("v")
        )
        big = hot.union(uniform)
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("p")
        )
        # a GLOBAL agg, deliberately: a groupBy("k") downstream would
        # require hash partitioning on k, and AQE (correctly) refuses to
        # split the skewed partition when that breaks a required
        # distribution. The partial global agg is distribution-agnostic.
        # sum(v) keeps the wide column through the shuffle (otherwise
        # column pruning leaves 200k copies of the constant key, which
        # compress below any realistic skew threshold)
        joined = big.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("p").alias("sp"), F.sum("v").alias("sv")
        )
        row = joined.collect()[0]
        assert row["n"] == 203_200
        assert row["sp"] == 200_000 * 990 + sum(k * 10 * 100 for k in range(32))
        assert row["sv"] == sum(range(200_000)) + sum(range(3_200))
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """When a selective filter sits on one side of a shuffle join, Spark
    injects a runtime bloom filter on the other side (row-level runtime
    filtering) — at scale this skips shuffling probe rows that cannot
    match. Pin that the rewrite fires under the documented thresholds."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # test-scale thresholds: prod defaults (10MB creation / 10GB
        # application side) only fire on real table sizes
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with conf_scope(spark, confs):
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMALL, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("s"))
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan      # built on the filtered side
        assert "might_contain" in plan.lower() # probed on the big side


def test_jdbc_read_plan_has_no_driver_materialization(spark):
    """q104 polish (VERDICT r2): the bounded-JDBC read-back plan must
    contain no CollectLimit/driver materialization — the one permitted
    driver round-trip is the 1-row min/max bounds agg BEFORE the scan
    (inherent to Spark's JDBC API), never anything inside the returned
    plan that would re-materialize per execution if the path looped."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan

    df = QUERIES["q104_jdbc_roundtrip"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "CollectLimit" not in plan
    assert "LocalTableScan" not in plan


def test_weighted_sample_is_narrow_take_ordered(spark):
    """q126: the whole weighted sample must plan as a pruned 2-column
    scan + TakeOrderedAndProject — no shuffle, no Python, no RNG."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import (
        exchange_count,
        formatted_plan,
        read_schemas,
    )

    df = QUERIES["q126_weighted_sample"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert not has_python_eval(df)
    assert exchange_count(df) == 0
    assert any("doc_id" in s and "text" not in s for s in read_schemas(df))


def test_tfidf_single_corpus_scan(spark):
    """q127: exactly one scan reads the text column (the window-chain
    rewrite; the naive dl/df-join shape reads it three times)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import read_schemas

    df = QUERIES["q127_tfidf_top_terms"].builder(spark, SF_SMALL)
    text_scans = [s for s in read_schemas(df) if "text" in s]
    assert len(text_scans) == 1


def test_heavy_hitters_semi_join_broadcasts_candidates(spark):
    """q125: the exact pass must semi-join against BROADCAST candidates
    before its count shuffle (shuffle volume = candidates, not vocab)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import simple_plan

    df = QUERIES["q125_heavy_hitters"].builder(spark, SF_SMALL)
    plan = simple_plan(df)
    assert "LeftSemi, BuildRight" in plan
    assert "MapInPandas" in plan  # the bounded-state candidate stage


def test_pagerank_iterations_reuse_cached_edges(spark):
    """q128: the mined graph must come from cache inside the loop —
    every iteration's edge input is an InMemoryTableScan (the printed
    FileScan count is misleading: each InMemoryTableScan node prints its
    BUILD lineage, which materializes once at runtime)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import simple_plan

    df = QUERIES["q128_pagerank_copurchase"].builder(spark, SF_SMALL)
    plan = simple_plan(df)
    assert plan.count("InMemoryTableScan") >= 3  # one per iteration at least
    assert not has_python_eval(df)


def test_pq_encoding_is_narrow_and_jvm_side(spark):
    """q130: PQ encode/LUT/score are pure array expressions — no Python
    in the plan; codebook and queries ride as broadcasts."""
    df = QUERIES["q130_ann_pq"].builder(spark, SF_SMALL)
    assert not has_python_eval(df)
    assert uses_broadcast_join(df) or "BroadcastNestedLoopJoin" in (
        __import__(
            "brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain",
            fromlist=["simple_plan"],
        ).simple_plan(df)
    )


def test_pii_redaction_is_pure_projection(spark):
    """q139: scan -> project, zero exchanges, zero Python — the regex
    chain runs inside whole-stage codegen."""
    df = QUERIES["q139_pii_redaction"].builder(spark, SF_SMALL)
    assert exchange_count(df) == 0
    assert not has_python_eval(df)


def test_random_projection_broadcasts_matrix(spark):
    """q142: the 8-row sign matrix arrives via broadcast; the projection
    itself adds no shuffle and no Python."""
    df = QUERIES["q142_random_projection"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert not has_python_eval(df)
    # the embeddings side must not shuffle: only the tiny matrix exchange
    assert "Exchange hashpartitioning" not in plan


def test_range_sorted_write_uses_range_partitioning(spark):
    """q145's write lineage: ONE range exchange and per-partition sorts,
    never a global single-partition sort."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        "l_extendedprice",
        (F.year("l_shipdate") * 10 + F.quarter("l_shipdate"))
        .cast("int")
        .alias("bucket"),
    )
    staged = li.repartitionByRange(8, "bucket", "l_shipdate").sortWithinPartitions(
        "bucket", "l_shipdate"
    )
    plan = formatted_plan(staged)
    assert "rangepartitioning" in plan.lower()
    assert "Sort" in plan
    # per-partition sort: the Sort node's global flag (2nd argument in the
    # formatted plan) must be false
    assert ", false, 0" in plan


def test_semdedup_joins_on_cell_key(spark):
    """q143: the pairwise stage is keyed by cell (sum of cell^2 work),
    with the codebook broadcast — no all-pairs cross join of the corpus."""
    df = QUERIES["q143_semdedup"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan  # codebook / matrix ships broadcast
    assert "CartesianProduct" not in plan


def test_semdedup_reuses_cached_assignment(spark):
    """q143: both sides of the pairwise self-join must read the SAME
    cached assignment relation (two InMemoryTableScan nodes) instead of
    each replaying the centroid computation + broadcast assignment — the
    measured 9.5s->4s win at sf0.1, previously protected only by a
    comment at similarity_q.py (VERDICT r3 item 6)."""
    df = QUERIES["q143_semdedup"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, (
        "cached assignment no longer feeds both join sides"
    )


def test_gap_fill_spine_is_distributed(spark):
    """q151: the hourly grid comes from sequence()+explode inside the
    plan (Generate node over a 1-row agg) — no driver-side date loop,
    no LocalTableScan of precomputed hours; and the carry window is
    partitioned by event_type, not global."""
    df = QUERIES["q151_gap_fill_ffill"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Generate" in plan and "explode(sequence(" in plan
    # the carry window's partition spec must name event_type (not empty)
    assert "windowspecdefinition(event_type" in plan


def test_abc_and_skew_use_range_partitioned_prefix_sum(spark):
    """q161/q164: the global cumulative rank rides distributed_cumsum.
    Since the determinism fix, the range exchange lives BEHIND the
    operator's lazy localCheckpoint (one pinned boundary sampling for
    both plan branches), so the final plan shows the checkpointed
    relation (Scan ExistingRDD) consumed by both branches instead of
    the exchange itself."""
    for name in ("q161_abc_classification", "q164_skew_report"):
        df = QUERIES[name].builder(spark, SF_SMALL)
        plan = formatted_plan(df)
        assert "Scan ExistingRDD" in plan, name


def test_sequence_windows_partition_by_user(spark):
    """q162/q166/q169: every sequence-mining window partitions by
    user_id — no corpus-wide WindowExec partition anywhere."""
    for name in (
        "q162_event_transitions",
        "q166_top_session_paths",
        "q169_funnel_latency",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        plan = formatted_plan(df)
        assert "windowspecdefinition(user_id" in plan, name


def test_arrow_udf_is_arrow_not_pickle(spark):
    """q168: the scalar UDF must evaluate through ArrowEvalPython (the
    useArrow=True batch path), not legacy pickled BatchEvalPython."""
    df = QUERIES["q168_arrow_scalar_udf"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_bucket_join_is_equi_join(spark):
    """q180: the time-window join must compile to an ordinary equi-join
    on (user, bucket) — no BroadcastNestedLoopJoin / CartesianProduct
    (the shapes a raw range predicate degrades to, which are the exact
    failure this rewrite exists to avoid at scale)."""
    df = QUERIES["q180_interval_bucket_join"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_broadcasts_codebook(spark):
    """q187: both Lloyd assignment passes must crossJoin a BROADCAST
    codebook (k rows) — the corpus itself never shuffles for an
    assignment — and centroid updates stay JVM-side (no Python)."""
    df = QUERIES["q187_kmeans_lloyd"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastExchange") >= 2
    assert not has_python_eval(df)


def test_target_encoding_broadcasts_category_stats(spark):
    """q181: the per-category (Σ, n) relation joins back by broadcast —
    the encode is a map-side lookup, not a shuffle of the fact table."""
    df = QUERIES["q181_target_encoding_loo"].builder(spark, SF_SMALL)
    assert uses_broadcast_join(df)


def test_round4_queries_stay_jvm_side(spark):
    """Round-4 additions built from DataFrame expressions must not
    cross into Python (q188's scoring fold, q182's hashing, q186's LM
    joins are all built-ins)."""
    for name in (
        "q178_corr_matrix",
        "q179_attribution_last_touch",
        "q180_interval_bucket_join",
        "q182_feature_hashing",
        "q183_containment_neardup",
        "q184_vocab_oov_rate",
        "q185_doc_chunking",
        "q186_bigram_lm",
        "q188_hard_negatives",
        "q189_winsorized_stats",
        "q190_cms_frequency",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_sql_udf_inlines_no_python(spark):
    """q196: a SQL UDF must inline into the plan as a CASE expression —
    zero Python evaluation nodes (that's the whole point of CREATE
    FUNCTION ... RETURN over a Python UDF)."""
    df = QUERIES["q196_sql_udf"].builder(spark, SF_SMALL)
    assert not has_python_eval(df)
    assert "CASE WHEN" in formatted_plan(df)


def test_round5_queries_stay_jvm_side(spark):
    """Round-5 additions are pure DataFrame expression plans — the BPE
    trainer, weighted LSH, curriculum grid, cube, and every stats op
    run without crossing into Python."""
    for name in (
        "q197_tokenizer_fertility",
        "q198_idf_weighted_minhash",
        "q199_curriculum_bins",
        "q200_gold_cube_levels",
        "q201_kl_segment_drift",
        "q202_ann_recall_calibration",
        "q203_next_event_accuracy",
        "q204_temperature_mixture",
        "q205_chi_square_independence",
        "q206_benford_audit",
        "q207_ngram_novelty",
        "q208_kfold_split_audit",
        "q209_ams_f2_sketch",
        "q210_nearest_centroid",
        "q211_time_weighted_avg",
        "q212_cohort_retention",
        "q213_equidepth_histogram",
        "q214_bounce_rate",
        "q215_tpch_q5_local_supplier",
        "q216_gini_by_segment",
        "q217_heaps_law_fit",
        "q218_intradoc_repetition",
        "q219_out_of_orderness",
        "q220_pareto_frontier",
        "q221_weighted_median",
        "q222_lateral_topk",
        "q223_hll_sketch_union",
        "q225_map_feature_column",
        "q228_erasure_propagation",
        "q229_completeness_profile",
        "q230_simhash_recall",
        "q231_cross_source_dups",
        "q233_holt_linear",
        "q234_quantile_normalization",
        "q235_interleaved_shards",
        "q236_weekly_churn",
        "q237_asof_forward",
        "q238_wilson_intervals",
        "q239_log2_histogram",
        "q240_decayed_popularity",
        "q241_ks_two_sample",
        "q242_group_by_all",
        "q243_identifier_clause",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_curriculum_has_no_global_window(spark):
    """q199: tercile assignment must come from broadcast percentile
    boundaries, never a global ntile() window (which would sort the
    whole corpus on one task — the exact plan this query's design
    note forbids)."""
    df = QUERIES["q199_curriculum_bins"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan


def test_cube_expands_once(spark):
    """q200: the 4 served cube levels must evaluate in ONE
    Expand+Aggregate pass over the joined fact — not one aggregation
    per grouping set."""
    df = QUERIES["q200_gold_cube_levels"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Expand" in plan
    # one logical Expand (formatted output may list it in both the
    # header tree and the node details; never more than one node id)
    import re as _re

    expand_nodes = _re.findall(r"\(\d+\) Expand", plan)
    assert len(expand_nodes) <= 1


def test_weighted_minhash_band_join_is_equi(spark):
    """q198: LSH candidates must come from an equi-join on the band
    key (docs x bands rows) — no nested-loop/cartesian pair
    enumeration anywhere in the plan."""
    df = QUERIES["q198_idf_weighted_minhash"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_hints_take_effect(spark):
    """q226: the MERGE and SHUFFLE_HASH hints must produce their named
    physical operators — one SortMergeJoin and one ShuffledHashJoin —
    and neither branch may silently fall back to broadcast (which
    would make the 'strategy' tag a lie)."""
    df = QUERIES["q226_join_strategy_hints"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_parameterized_sql_pushes_folded_literals(spark):
    """q227: named parameters must bind before optimization so the date
    filter reaches the parquet scan as a pushed literal predicate."""
    df = QUERIES["q227_parameterized_sql"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:200]


def test_parquet_agg_pushdown_reads_metadata_only(spark):
    """q232: MIN/MAX/COUNT must be answered by the scan itself —
    `PushedAggregation` on the BatchScan — with the pushdown confs
    already restored (the builder scopes them via eager physical
    planning), proving no session-wide side effect leaks."""
    df = QUERIES["q232_parquet_agg_pushdown"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "PushedAggregation" in plan
    assert "MIN(o_orderkey)" in plan and "COUNT(*)" in plan
    # confs were restored by the builder
    assert spark.conf.get("spark.sql.sources.useV1SourceList", None) != ""


def test_q215_no_forced_broadcast_of_scaling_relations(spark):
    """VERDICT r5: q215 must not hint-broadcast customer or supplier —
    both scale with the fact, so an explicit hint (which AQE cannot
    override) is a driver OOM at 100×. The only broadcast hints allowed
    are the fixed-cardinality nation/region dim attaches; the
    custkey/suppkey joins are left to AQE's runtime size decision."""
    df = QUERIES["q215_tpch_q5_local_supplier"].builder(spark, SF_SMALL)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    for line in opt.splitlines():
        if "strategy=broadcast" in line:
            assert "custkey" not in line and "suppkey" not in line, line
    # the size-safe hints are still present (nation/region attaches)
    assert opt.count("strategy=broadcast") == 2


# ---------------------------------------------------------------------------
# Registry-wide scale lint (VERDICT r4 item 4 / r5 item 2): NO registered
# query may plan an unpartitioned Window sort over an unbounded input —
# the single-task global sort that works at test scale and dies at 100 TB.
# Accepted shapes, detected mechanically:
#   - partitioned windows (partitionSpec non-empty);
#   - the two-level distributed operators' n_parts-row prefix windows
#     (ordered by __pid, input is a groupBy(__pid) aggregate);
#   - windows whose input subtree contains a Limit (top-k re-ranks).
# Anything else must be whitelisted here WITH a justification, or the
# lint fails. This is also the plan pin for q69/q78/q217's
# distributed_ntile / distributed_rank / distributed_cumsums rewrites:
# reintroducing a global window in any registered query trips the lint.
# ---------------------------------------------------------------------------

# query -> (max allowed unpartitioned-unbounded windows, justification)
UNPARTITIONED_WINDOW_WHITELIST = {
    "q24_moving_avg_7d": (
        2,
        "7-day moving frame over a per-DAY aggregate: input rows are "
        "bounded by the dataset's calendar span, not data volume",
    ),
    "q93_range_frame_7d": (
        1,
        "RANGE frame over a per-day aggregate — calendar-bounded input",
    ),
    "q154_quantile_drift": (
        1,
        "week-over-week lag over a per-WEEK percentile aggregate — "
        "calendar-bounded input",
    ),
}


def _walk_logical(node):
    yield node
    try:
        it = node.children().iterator()
        while it.hasNext():
            yield from _walk_logical(it.next())
    except Exception:  # noqa: BLE001 — leaf/foreign nodes
        pass
    try:
        it = node.subqueries().iterator()
        while it.hasNext():
            yield from _walk_logical(it.next())
    except Exception:  # noqa: BLE001
        pass


def _unbounded_global_windows(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    bad = []
    for node in _walk_logical(plan):
        if node.nodeName() != "Window":
            continue
        if node.partitionSpec().size() > 0:
            continue
        order = node.orderSpec().mkString(",")
        if "__pid" in order:
            continue  # two-level prefix machinery: n_parts rows
        child = node.children().apply(0)
        if any(
            n.nodeName() in ("GlobalLimit", "LocalLimit")
            for n in _walk_logical(child)
        ):
            continue  # top-k re-rank over a k-row relation
        bad.append(order[:80])
    return bad


# Shared single build pass for the registry-wide lints: each lint only
# INSPECTS logical plans, but ``q.builder`` itself is expensive for the
# composition rows (chain builders execute their stage checkpoints,
# streaming builders run their availableNow cycles), and two lints
# doing their own full pass cost ~10 of the suite's ~30 minutes —
# enough to push the driver's pytest capture past its budget (VERDICT
# r13 item 7). Build every registered query ONCE, lazily, and let both
# lints walk the same DataFrames. The pass fills a local dict and
# publishes it only once every builder has succeeded, so a raising
# builder fails each lint instead of leaving the second one a partial
# registry. The same pass records, per builder, every session conf the
# builder left changed (``_CONF_LEAKS``), for the conf-leak lint.
_REGISTRY_DFS: dict = {}
_CONF_LEAKS: dict = {}


def _conf_diff(before: dict, after: dict) -> dict:
    return {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }


def _registry_dfs(spark):
    if not _REGISTRY_DFS:
        ensure_engine_conf(spark)
        built, leaks = {}, {}
        for name, q in QUERIES.items():
            before = spark.conf.getAll
            built[name] = q.builder(spark, SF_SMALL)
            diff = _conf_diff(before, spark.conf.getAll)
            if diff:
                leaks[name] = diff
        _CONF_LEAKS.update(leaks)
        _REGISTRY_DFS.update(built)
    return _REGISTRY_DFS


def test_registry_wide_no_builder_leaves_session_conf_changed(spark):
    """No builder leaves the session different from how it found it: a
    conf a builder overrides for its own plan (CBO, AQE thresholds, a
    DSv2 scan path, an overwrite mode, a watermark policy) goes through
    ``session.conf_scope``, which restores it, and the confs every query
    needs are set once up front (``session.ENGINE_CONF``). A leaked conf
    silently changes the plan of every query built after it in a
    long-lived session. No allowlist."""
    _registry_dfs(spark)
    assert not _CONF_LEAKS, f"builders left session confs changed: {_CONF_LEAKS}"


def test_registry_wide_no_unbounded_global_window(spark):
    offenders: dict[str, list[str]] = {}
    for name, df in _registry_dfs(spark).items():
        bad = _unbounded_global_windows(df)
        allowed, _why = UNPARTITIONED_WINDOW_WHITELIST.get(name, (0, ""))
        if len(bad) > allowed:
            offenders[name] = bad
    assert not offenders, (
        "unpartitioned, non-limit-bounded Window sorts (single-task at "
        f"scale): {offenders}"
    )


def _tokenizers_in_lambdas(df) -> list[str]:
    """The body of each ``lambdafunction(`` in ``df``'s optimized plan
    that calls ``regexp_extract_all``. Catalyst does not hoist an
    expression out of a lambda, so a tokenizer there runs once per array
    element (per shingle or n-gram), not once per document. The plan is
    printed with no field limit, so a wide Project cannot hide a lambda
    behind "... more fields"."""
    opt = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    plan = opt.treeString(False, False, 2**31 - 1, False, False)
    bad = []
    at = plan.find("lambdafunction(")
    while at != -1:
        body = _call_args(plan, at + len("lambdafunction"))
        if "regexp_extract_all(" in body:
            bad.append(body[:120])
        at = plan.find("lambdafunction(", at + 1)
    return bad


def test_registry_wide_no_tokenizer_inside_a_lambda(spark):
    """No registered plan tokenizes inside a lambda: the tokens are
    projected once and the lambdas read that column (q45's shingle
    family through ``dedup.word_shingles``, q218's n-grams)."""
    offenders = {}
    for name, df in _registry_dfs(spark).items():
        bad = _tokenizers_in_lambdas(df)
        if bad:
            offenders[name] = bad
    assert not offenders, f"tokenizer evaluated per lambda element: {offenders}"


def test_round6_queries_stay_jvm_side(spark):
    """q247/q248/q250/q251 are pure Catalyst surface — no Python eval
    anywhere in their plans (q244 is a UDTF by DESIGN, pinned below;
    q249's observe() rides a write action inside the builder)."""
    for name in (
        "q247_listagg_within_group",
        "q248_sql_variables",
        "q250_k_anonymity_audit",
        "q251_try_safe_division",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_q244_udtf_is_arrow_lateral(spark):
    """q244's polymorphic UDTF must appear as the UDTF evaluation node
    feeding a JVM aggregate — Python generates rows, the group-by never
    leaves the JVM."""
    df = QUERIES["q244_udtf_polymorphic_ngrams"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "PythonUDTF" in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_q248_variable_folds_into_pushed_filters(spark):
    """The session variable must constant-fold to a literal that reaches
    the parquet scan (same property q227 pins for parameter markers)."""
    df = QUERIES["q248_sql_variables"].builder(spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(o_totalprice,100000.0)" in pushed


# ---------------------------------------------------------------------------
# Registry-wide broadcast-hint lint (the q215 rule, mechanized): an
# explicit broadcast hint is a PROMISE the relation stays driver-sized
# at ANY scale factor. A hint whose subtree reaches an SF-scaling table
# without passing through a BOUNDING node — a Limit unconditionally, or
# an Aggregate/Deduplicate whose output carries no SF-scaling key
# (tightened in round 7 per ADVICE r6: a groupBy/distinct over doc_id
# still scales, and Window is never bounding — it preserves row count)
# — will OOM the driver at 100× — and AQE cannot override an explicit
# hint. This lint found and fixed TEN real instances on landing (q215,
# q23, q90, q117, q118, q135-upsert, q231, q22, q228, q116); after the
# markers became schema-derived (round 8 — the hand-kept dict's
# embeddings entry "emb" matched no real column, blinding the lint to
# the whole similarity family for a round), it exposed and fixed 14
# more across 11 queries (q130/q134's full-corpus re-rank broadcast,
# q188's corpus hint, the SF-linear query/eval-set hints now capped by
# similarity.bounded_set, and q111's |part|-scaling item-count hints).
# Zero whitelist entries: every remaining hint is bounded.
# ---------------------------------------------------------------------------

# Markers are DERIVED from the fixture parquet schemas (VERDICT r7 item
# 6): a hand-kept dict drifted — its embeddings entry was the key "emb",
# which matches no real column (the table is vec_id/embedding/label), so
# the lint was silently blind to the entire similarity family for a full
# round. Two marker sets with different jobs:
#   _LEAF_MARKERS: EVERY column of every SF-scaling table -> table name.
#     Used at leaf relations to answer "does this scan read a scaling
#     table?" — all-columns so a projection that prunes the key column
#     can't hide the table from the lint.
#   _KEY_MARKERS: only the identity/foreign-key columns (suffix `key` or
#     `_id`, minus references to the FIXED dims region/nation). Used on
#     Aggregate/Deduplicate OUTPUT to answer "does this group-by still
#     scale?" — groupBy(doc_id) scales with the corpus, groupBy
#     (c_mktsegment) or groupBy(n_nationkey) does not.
_SCALING_TABLES = (
    "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
_FIXED_KEY_SUFFIXES = ("nationkey", "regionkey")


def _fixture_columns(table):
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{SF_SMALL}/{table}.parquet"
    if os.path.isdir(path):
        parts = sorted(glob.glob(f"{path}/*.parquet"))
        if not parts:
            raise FileNotFoundError(
                f"fixture {path} exists but contains no part files — "
                "regenerate the test fixtures (tests/fixtures_gen.py)"
            )
        path = parts[0]
    if not os.path.exists(path):
        # _derive_markers() runs at module import (collection) time: on
        # a checkout without generated fixtures, fail collection with a
        # pointer instead of an opaque IndexError (ADVICE r8).
        raise FileNotFoundError(
            f"broadcast-lint markers need the {table} fixture at {path} "
            "— generate test data first (see TESTDATA.md)"
        )
    return list(pq.ParquetFile(path).schema_arrow.names)


def _derive_markers():
    leaf, key = {}, {}
    for t in _SCALING_TABLES:
        for nm in _fixture_columns(t):
            if nm.endswith(_FIXED_KEY_SUFFIXES):
                continue  # FK into a fixed-size dim: bounded cardinality
            leaf.setdefault(nm, t)
            if nm.endswith("key") or nm.endswith("_id"):
                key.setdefault(nm, t)
    return leaf, key


_LEAF_MARKERS, _KEY_MARKERS = _derive_markers()


def test_every_scaling_table_contributes_markers():
    """The drift guard the 'emb' bug motivated: every SF-scaling fixture
    table must contribute at least one leaf marker AND one key marker
    that exist in its real schema — a renamed column updates the derived
    sets automatically; a dropped table fails here."""
    for t in _SCALING_TABLES:
        assert t in _LEAF_MARKERS.values(), t
        assert t in _KEY_MARKERS.values(), t
    assert _KEY_MARKERS.get("vec_id") == "embeddings"
    for nm in _KEY_MARKERS:
        assert not nm.endswith(_FIXED_KEY_SUFFIXES)
# Limits bound unconditionally. Aggregate/Deduplicate bound the row
# count only when their OUTPUT carries no SF-scaling key — a groupBy /
# distinct over doc_id still scales with the corpus (ADVICE r6).
# Window is NOT bounding at all: it preserves row count exactly, so a
# hinted broadcast below one is exactly as dangerous as without it.
_BOUNDING_NODES = ("GlobalLimit", "LocalLimit")
_KEYED_BOUNDING_NODES = ("Aggregate", "Deduplicate")
_LEAF_NODES = ("LogicalRelation", "Relation", "StreamingRelation", "StreamingRelationV2")


def _output_tables(n, markers):
    out = set()
    try:
        it = n.output().iterator()
        while it.hasNext():
            nm = it.next().name()
            if nm in markers:
                out.add(markers[nm])
    except Exception:  # noqa: BLE001
        pass
    return out


def _rel_scaling_tables(n):
    return _output_tables(n, _LEAF_MARKERS)


def _broadcast_subtree_bounded(node):
    if node.nodeName() in _BOUNDING_NODES:
        return True
    if node.nodeName() in _KEYED_BOUNDING_NODES and not _output_tables(
        node, _KEY_MARKERS
    ):
        return True
    # a keyed Aggregate/Deduplicate whose output still carries a scaling
    # key falls through to its children — bounded iff something below
    # it (a limit, a non-scaling leaf) bounds the row count.
    if node.nodeName() in _LEAF_NODES:
        return not _rel_scaling_tables(node)
    try:
        it = node.children().iterator()
        kids = []
        while it.hasNext():
            kids.append(it.next())
    except Exception:  # noqa: BLE001
        return True
    if not kids:
        return True
    return all(_broadcast_subtree_bounded(k) for k in kids)


def _unbounded_broadcast_hints(df):
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    bad = []
    for node in _walk_logical(plan):
        if node.nodeName() != "ResolvedHint":
            continue
        if "broadcast" not in node.toString().splitlines()[0].lower():
            continue
        child = node.children().apply(0)
        if not _broadcast_subtree_bounded(child):
            tables = set()
            for n in _walk_logical(child):
                if n.nodeName() in _LEAF_NODES:
                    tables |= _rel_scaling_tables(n)
            bad.append(sorted(tables))
    return bad


def test_lint_detects_reintroduced_fact_broadcast(spark):
    """Sanity for the lint itself: a deliberate broadcast of a raw
    customer projection MUST flag; an aggregated derivation must not."""
    from pyspark.sql import functions as F

    c = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    bad = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    )
    assert _unbounded_broadcast_hints(bad) == [["customer"]]
    ok = o.crossJoin(
        F.broadcast(c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))
    )
    assert _unbounded_broadcast_hints(ok) == []
    # the pruned-projection escape (closed when markers became
    # schema-derived): a broadcast whose projection drops every KEY
    # column still reaches the customer scan — all-columns leaf markers
    # must flag it (the old key-only dict waved it through)
    pruned = o.crossJoin(F.broadcast(c.select("c_mktsegment")))
    assert _unbounded_broadcast_hints(pruned) == [["customer"]]
    # and an Aggregate keyed by a NON-key attribute stays bounding even
    # though c_mktsegment is a leaf marker (key/leaf marker separation)
    keyed = o.crossJoin(
        F.broadcast(c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n")))
    )
    assert _unbounded_broadcast_hints(keyed) == [["customer"]]


def test_registry_wide_no_unbounded_broadcast_hint(spark):
    offenders = {}
    for name, df in _registry_dfs(spark).items():
        bad = _unbounded_broadcast_hints(df)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"explicit broadcast hints on SF-scaling relations (driver OOM "
        f"at scale, AQE cannot override a hint): {offenders}"
    )


def test_q262_analyze_stats_flip_join_strategy(spark):
    """q262's CBO claim, pinned mechanically (VERDICT r6 item 4): the
    SAME join query plans a SortMergeJoin when the catalog has no
    statistics and a BroadcastHashJoin after `ANALYZE TABLE ... COMPUTE
    STATISTICS FOR ALL COLUMNS`, under spark.sql.cbo.enabled with a
    4 KB broadcast threshold. Without column stats a Filter inherits its
    child's sizeInBytes (raw file bytes > threshold); with stats,
    FilterEstimation shrinks the point-filter to ~rows/NDV and the
    filtered fact side broadcasts. AQE is disabled inside the probe so
    sparkPlan reflects the static planner's choice, not a runtime fix-up."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import (
        cbo_stats_tables,
    )

    def probe(analyze):
        ot, ct = cbo_stats_tables(spark, SF_SMALL, analyze=analyze)
        o = spark.table(ot).filter(
            F.col("o_orderdate") == F.lit("1995-06-19").cast("date")
        )
        c = spark.table(ct)
        df = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = df._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
        stats = (
            df._jdf.queryExecution().optimizedPlan().stats().toString()  # noqa: SLF001
        )
        return plan, stats

    confs = {
        "spark.sql.cbo.enabled": "true",
        # 1 KB, not q262's 4 KB: at sf0.001 the COLUMN-PRUNED customer
        # scan (2 of 8 columns — size-only estimation scales file bytes
        # by projected width) is ~2 KB and would broadcast even without
        # stats; 1 KB keeps both stats-less sides above the bar
        "spark.sql.autoBroadcastJoinThreshold": "1024",
        "spark.sql.adaptive.enabled": "false",
    }
    with conf_scope(spark, confs):
        before_plan, before_stats = probe(analyze=False)
        after_plan, after_stats = probe(analyze=True)

    assert "SortMergeJoin" in before_plan and "BroadcastHashJoin" not in before_plan
    assert "BroadcastHashJoin" in after_plan and "SortMergeJoin" not in after_plan
    # the flip is stats-driven: only the after-plan has a rowCount
    assert "rowCount" not in before_stats
    assert "rowCount" in after_stats


def _join_order(df):
    """Bottom-up relation order of the optimized plan's innermost join:
    the pair of base tables joined FIRST. Walks to the deepest Join
    node and returns the base-table names under each of its sides."""
    def leaves(node):
        nm = node.nodeName()
        if nm in ("LogicalRelation", "Relation"):
            s = node.toString().splitlines()[0]
            for t in ("orders", "customer", "lineitem"):
                if f"{t}_" in s:
                    return [t]
            return []
        out = []
        it = node.children().iterator()
        while it.hasNext():
            out += leaves(it.next())
        return out

    def deepest_join(node):
        found = None
        it = node.children().iterator()
        while it.hasNext():
            sub = deepest_join(it.next())
            if sub is not None:
                found = sub
        if found is not None:
            return found
        return node if node.nodeName() == "Join" else None

    j = deepest_join(df._jdf.queryExecution().optimizedPlan())  # noqa: SLF001
    assert j is not None
    return set(leaves(j))


def test_q281_cbo_join_reorder_flips_order(spark):
    """q281's claim, pinned mechanically: the SAME fact-first 3-table
    chain keeps its syntactic order (lineitem ⋈ orders innermost)
    without join reordering, and flips to dims-first
    (orders ⋈ filtered customer innermost) under
    spark.sql.cbo.joinReorder.enabled with ANALYZE'd column stats —
    the DP reorderer pays the selective filter before the fact join."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import (
        q281_join,
    )

    def probe(reorder):
        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": str(reorder).lower(),
        }
        with conf_scope(spark, confs):
            return _join_order(q281_join(spark, SF_SMALL))

    assert probe(False) == {"lineitem", "orders"}
    assert probe(True) == {"orders", "customer"}


def test_q284_histogram_fixes_skewed_estimate(spark):
    """q284's claim, pinned mechanically: on the right-skewed
    events.value column, basic column stats (uniform interpolation)
    overestimate the `value > 245` tail by >=10x vs equi-height
    histogram stats, and the histogram estimate lands within 3x of the
    true count (measured at sf0.01: 5.00E+3 basic vs 70 histogram vs
    67 true)."""
    import re

    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import (
        _Q284_TAIL,
        cbo_stats_tables,
    )

    def probe(hist):
        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.statistics.histogram.enabled": str(hist).lower(),
        }
        with conf_scope(spark, confs):
            (et,) = cbo_stats_tables(spark, SF_SMALL, sources=("events",))
            df = spark.table(et).filter(F.col("value") > _Q284_TAIL)
            st = df._jdf.queryExecution().optimizedPlan().stats().toString()  # noqa: SLF001
            est = float(re.search(r"rowCount=([0-9.E+]+)", st).group(1))
            return est, df.count()

    basic_est, true_n = probe(False)
    hist_est, _ = probe(True)
    assert basic_est >= 10 * hist_est, (basic_est, hist_est)
    assert hist_est <= 3 * true_n and true_n <= 3 * hist_est, (hist_est, true_n)


def test_q289_histogram_fixes_join_estimate(spark):
    """q289's claim, pinned mechanically: on the sentinel-skew self-join
    (mega-key 0 holds ~20% of rows, every other key unique), NDV-based
    JoinEstimation under-estimates the join cardinality >=10x, while
    equi-height histograms land within 3x of the true pair count —
    Spark merges same-valued bucket runs into one range, recovering the
    mega-key's square (probed at BOTH scales on Spark 4.1.2,
    2026-08-15: this fixture's SF_SMALL=sf0.001 gives true 3.80E+4 vs
    basic 1.2E+3 vs histogram 3.8E+4; the builder comment in sqlx_q.py
    cites the driver-gate scale sf0.01, true 4.10E+6 vs NDV ~1.2E+4 —
    the ~10x/3x margins hold at both, so a threshold trip on a rescale
    means the bucket-merge rule changed, not the fixture)."""
    import re

    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import (
        q289_join,
    )

    def probe(hist):
        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.statistics.histogram.enabled": str(hist).lower(),
        }
        with conf_scope(spark, confs):
            df = q289_join(spark, SF_SMALL)
            st = df._jdf.queryExecution().optimizedPlan().stats().toString()  # noqa: SLF001
            est = float(re.search(r"rowCount=([0-9.E+]+)", st).group(1))
            return est, df.count()

    basic_est, true_n = probe(False)
    hist_est, _ = probe(True)
    # the skewed join is UNDER-estimated by the uniform model
    assert true_n >= 10 * basic_est, (basic_est, true_n)
    assert basic_est <= hist_est / 10, (basic_est, hist_est)
    assert hist_est <= 3 * true_n and true_n <= 3 * hist_est, (hist_est, true_n)


def test_round7_queries_stay_jvm_side(spark):
    """q263/q266/q267/q270 are pure Catalyst surface — lateral aliases
    inline to projections, the quantization round trip and truncation
    recall are transform/zip_with/aggregate folds, collation is an
    ICU-backed grouping. No Python anywhere in their plans."""
    for name in (
        "q263_lateral_column_alias",
        "q266_int8_quant_calibration",
        "q267_matryoshka_trunc_recall",
        "q270_collated_grouping",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_round8_queries_stay_jvm_side(spark):
    """The round-8 batch queries are pure Catalyst surface — CBO
    planning (q281/q284) and the approx_top_k sketch family
    (q282/q283/q286) never cross into Python (the statestore pair
    q280/q285 is covered by its own companion pins)."""
    for name in (
        "q281_cbo_join_reorder",
        "q282_approx_top_k_int",
        "q283_approx_top_k_mixed_sizes",
        "q284_cbo_histogram_stats",
        "q286_approx_top_k_null_item",
    ):
        df = QUERIES[name].builder(spark, SF_SMALL)
        assert not has_python_eval(df), f"{name} plan crosses into Python"


def test_round7_arrow_boundaries_use_arrow_nodes(spark):
    """The two new Arrow APIs must plan as their Arrow-native physical
    nodes (NOT the pandas ones): q264 -> MapInArrow, q265 ->
    FlatMapGroupsInArrow; q271's table-argument UDTF evaluates as a
    UDTF node fed by a single shuffle on the PARTITION BY key."""
    assert "MapInArrow" in formatted_plan(
        QUERIES["q264_mapinarrow_doc_bytes"].builder(spark, SF_SMALL)
    )
    assert "FlatMapGroupsInArrow" in formatted_plan(
        QUERIES["q265_applyinarrow_norms"].builder(spark, SF_SMALL)
    )
    q271 = QUERIES["q271_udtf_table_argument"].builder(spark, SF_SMALL)
    plan = formatted_plan(q271)
    assert "PythonUDTF" in plan or "BatchEvalPythonUDTF" in plan
    assert exchange_count(q271) == 1  # one shuffle: the PARTITION BY key


def test_round10_api_faces_plan_like_their_sql_twins(spark):
    """The r10 DataFrame-API faces must compile to the same plans their
    SQL twins get — the API is sugar, not a different engine path:
    q302's lateralJoin (Column.outer() + ORDER BY/LIMIT 3) DECORRELATES
    into the rank-per-group shape (Window + WindowGroupLimit pushing
    the per-group top-k below the shuffle) joined broadcast — never a
    nested-loop re-execution per outer row; q303's asTable() UDTF plans
    exactly like q271's SQL TABLE() form — one UDTF eval node fed by a
    single shuffle on the PARTITION BY key."""
    q302 = QUERIES["q302_lateral_join_api"].builder(spark, SF_SMALL)
    plan = formatted_plan(q302)
    assert "Window" in plan and "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    q303 = QUERIES["q303_udtf_astable_api"].builder(spark, SF_SMALL)
    plan3 = formatted_plan(q303)
    assert "PythonUDTF" in plan3 or "BatchEvalPythonUDTF" in plan3
    assert exchange_count(q303) == 1  # one shuffle: the partitionBy key


def test_q275_pandas_api_compiles_to_catalyst(spark):
    """pyspark.pandas must hand back a pure-JVM plan: no Python eval
    node AND no Window at all — the default 'sequence' index would pin
    a whole-table single-partition window (the classic pandas-on-Spark
    scale trap q275 exists to document); the 'distributed' index keeps
    the plan window-free."""
    df = QUERIES["q275_pandas_api_on_spark"].builder(spark, SF_SMALL)
    assert not has_python_eval(df)
    assert "Window" not in formatted_plan(df)


def test_q277_star_except_prunes_scan(spark):
    """SELECT * EXCEPT must prune like an explicit projection: the
    excluded columns never leave the parquet reader."""
    df = QUERIES["q277_select_star_except"].builder(spark, SF_SMALL)
    (schema,) = read_schemas(df)
    assert "o_totalprice" not in schema and "o_orderdate" not in schema
    assert "o_orderkey" in schema


def test_q274_broadcasts_eval_side_only(spark):
    """q274's scale shape: the (small-by-construction) eval set crosses
    as a BroadcastNestedLoopJoin build side — the corpus itself never
    shuffles to be scored; the only exchanges are the per-vector max
    rollup and the |labels|-row final agg."""
    df = QUERIES["q274_semantic_decontamination"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert not has_python_eval(df)
    # two HASH exchanges (per-vector max rollup + |labels|-row final
    # agg); the fixture additionally triggers the conditional
    # parallelism floor (opt r13) — one RoundRobinPartitioning exchange
    # below the scoring join, a no-op wherever the scan has >= cores
    # splits
    assert plan.count("hashpartitioning(") == 2
    assert exchange_count(df) <= 3
    # the only exchange beyond the two hash aggs may be the floor's
    # round-robin — an unintended second shuffle of any OTHER kind
    # must fail here (ADVICE r13)
    assert plan.count("RoundRobinPartitioning(") <= 1
    assert exchange_count(df) == (
        plan.count("hashpartitioning(") + plan.count("RoundRobinPartitioning(")
    )


# ---------------------------------------------------------------------------
# q293/q294/q295 companion pins: AQE's three runtime re-plans, each read
# from the FINALIZED adaptive plan the registered builder executed
# (AdaptiveSparkPlanExec caches the final plan on its QueryExecution,
# and its toString renders BOTH faces — "== Final Plan ==" first, then
# "== Initial Plan ==" — so one string carries the before/after the CBO
# pins needed two conf scopes for).
# ---------------------------------------------------------------------------


def _adaptive_faces(df):
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in plan, plan[:500]
    head, _, initial = plan.partition("== Initial Plan ==")
    assert initial, plan[:500]  # both sections must be present
    return head, initial


def test_q293_aqe_switches_smj_to_broadcast(spark):
    """The static planner cannot size the 5-row aggregate dim (no group
    count without CBO stats) and static broadcast is off, so the
    INITIAL plan is a SortMergeJoin; AQE measures the materialized dim
    shuffle and the FINAL plan is a BroadcastHashJoin."""
    df = QUERIES["q293_aqe_runtime_broadcast"].builder(spark, SF_SMALL)
    final, initial = _adaptive_faces(df)
    assert "BroadcastHashJoin" in final and "SortMergeJoin" not in final
    assert "SortMergeJoin" in initial and "BroadcastHashJoin" not in initial


def test_q294_aqe_coalesces_200_partitions(spark):
    """Under the builder's 200-partition shuffle conf, the final plan
    reads the 7-group aggregate's shuffle through a COALESCED
    AQEShuffleRead and lands on a handful of output partitions — the
    conf is an upper bound, not a task count."""
    df = QUERIES["q294_aqe_partition_coalesce"].builder(spark, SF_SMALL)
    final, _ = _adaptive_faces(df)
    assert "AQEShuffleRead" in final and "coalesced" in final
    assert df.rdd.getNumPartitions() < 50  # vs the 200 the conf named


def test_q295_aqe_skew_split_fires(spark):
    """The one-hot-key sort-merge join's final plan carries skew=true:
    the hot partition was split into multiple reader tasks instead of
    one straggler."""
    df = QUERIES["q295_aqe_skew_split"].builder(spark, SF_SMALL)
    final, _ = _adaptive_faces(df)
    assert "SortMergeJoin" in final and "skew=true" in final


def test_cbo_stats_make_q293s_runtime_rescue_unnecessary(spark):
    """The CBO↔AQE interplay pin that closes both stories: q293's shape
    (join against a per-priority aggregate) needs AQE's runtime switch
    ONLY because the static planner can't size an aggregate without
    stats. Run the same shape against the ANALYZE'd stats table under
    CBO and the INITIAL plan is already a BroadcastHashJoin —
    BasicStatsPlanVisitor propagates the 5-row group count through the
    Aggregate (optimizedPlan stats: rowCount=5, ~185 B), so the static
    choice is right before a single byte shuffles. Static stats and
    runtime re-planning are complements: ANALYZE what you curate, let
    AQE cover what you can't."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import (
        cbo_stats_tables,
    )

    (ot,) = cbo_stats_tables(spark, SF_SMALL, sources=("orders",))
    confs = {
        "spark.sql.cbo.enabled": "true",
        # same cap on BOTH thresholds: whichever planner decides to
        # broadcast must believe the dim fits in 1 MB
        "spark.sql.autoBroadcastJoinThreshold": "1MB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "1MB",
    }
    with conf_scope(spark, confs):
        orders = spark.table(ot)
        dim = orders.groupBy("o_orderpriority").agg(
            F.max("o_totalprice").alias("prio_max")
        )
        df = (
            orders.join(dim, "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.collect()
        final, initial = _adaptive_faces(df)
        # the INITIAL plan already broadcasts: nothing for AQE to fix
        assert "BroadcastHashJoin" in initial and "SortMergeJoin" not in initial
        assert "BroadcastHashJoin" in final and "SortMergeJoin" not in final
        stats = df._jdf.queryExecution().optimizedPlan().stats().toString()  # noqa: SLF001
        assert "rowCount=5" in stats, stats


def test_q309_plan_has_dynamic_pruning(spark):
    """q309's fact scan must carry a dynamicpruning subquery on the
    o_year partition column — the dim filter's surviving years reach
    the directory listing at runtime, so only matching partitions are
    read (partition-level runtime filtering)."""
    df = QUERIES["q309_dynamic_partition_pruning"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_q310_plan_has_runtime_bloom_filter(spark):
    """q310's shuffle join must build a bloom filter over the filtered
    orders side's keys (bloom_filter_agg) and probe it on the lineitem
    side (might_contain) BEFORE lineitem's shuffle — row-level runtime
    filtering, the built-in form of q118's explicit semi-join
    reduction."""
    df = QUERIES["q310_runtime_bloom_filter"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert "might_contain" in plan.lower(), plan[:2000]


def test_q311_plan_uses_arrow_eval_and_iterator_contract(spark):
    """q311's two iterator UDFs must plan as ArrowEvalPython (vectorized
    Arrow transfer, not row-pickling BatchEvalPython); and the ITERATOR
    contract — function body runs once per task, batches stream through
    — is pinned with accumulators: under a small Arrow batch size, the
    batch count strictly exceeds the task count while the init count
    equals the task count."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    df = QUERIES["q311_iterator_pandas_udf"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]

    sc = spark.sparkContext
    inits = sc.accumulator(0)
    batches_seen = sc.accumulator(0)

    @pandas_udf("long")
    def counting(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        inits.add(1)  # once per python worker per task
        for s in batches:
            batches_seen.add(1)
            yield s.astype("int64")

    with conf_scope(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "50"}):
        docs = (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id")
            .repartition(2)
        )
        docs.select(counting(F.col("doc_id"))).collect()
    # 500 docs / 2 tasks / 50-row batches: ~5 batches per single init
    assert inits.value == 2, (inits.value, batches_seen.value)
    assert batches_seen.value >= 2 * inits.value, (inits.value, batches_seen.value)


def test_q326_decorrelates_scalar_subqueries(spark):
    """Both correlated scalar subqueries must decorrelate into per-part
    aggregate joins — zero per-row subquery executions in the physical
    plan (the rewrite that turns |lineitem| point lookups into one
    aggregate pass)."""
    df = QUERIES["q326_correlated_scalar_subquery"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Subquery" not in plan, plan[:2000]
    assert plan.count("Join") >= 2, plan[:2000]


def test_q327_plain_sum_overflow_raises(spark):
    """The raise face q327's registered row cannot carry: under ANSI
    mode a plain BIGINT SUM over the same near-Long.MAX amounts must
    raise ARITHMETIC_OVERFLOW, never wrap around silently."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.sqlx_q import _Q327_BIG

    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet").selectExpr(
        f"CAST({_Q327_BIG} AS BIGINT) + o_orderkey AS v"
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.selectExpr("sum(v)").collect()


def test_q330_pipeline_is_one_lineage(spark):
    """q330's contract (VERDICT r10 item 2): the curation chain reads
    ``documents`` exactly ONCE. Every stage boundary is localCheckpoint-
    materialized (the single-process twin of a parquet write between
    stages), so the FINAL plan must contain zero parquet file scans —
    only ExistingRDD scans of checkpointed stage outputs — i.e. no
    stage re-derives from the source."""
    df = QUERIES["q330_curation_pipeline"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, "a stage re-scans the source table"
    assert "ExistingRDD" in plan, "stage boundaries are not materialized"
    # and the chain shrinks monotonically: each stage row <= the prior
    rows = {
        r["stage"]: r["n_docs"]
        for r in df.collect()
        if r["stage"] != "5_shard" and r["stage"] != "3_boiler_lines"
    }
    order = ["0_ingest", "1_exact_dedup", "2_near_dedup", "3_quality", "4_mixture"]
    counts = [rows[s] for s in order]
    assert counts == sorted(counts, reverse=True) and counts[-1] > 0
    # shard composition totals the stage-4 survivor count
    shard_total = sum(
        r["n_docs"] for r in df.collect() if r["stage"] == "5_shard"
    )
    assert shard_total == rows["4_mixture"]


def test_q331_plans_window_in_pandas(spark):
    """q331's point is the PHYSICAL operator: the same grouped-agg
    pandas UDF that plans AggregateInPandas in GROUP BY position must
    plan the pandas-window node in window position (Spark 4.x names it
    ArrowWindowPython, WindowInPandasExec's Arrow-native successor),
    and the built-in COUNT over the same spec stays in a separate JVM
    Window node — mixed-type window functions split into two nodes
    that share ONE exchange and ONE sort (also asserted: a second sort
    would mean the window specs diverged)."""
    df = QUERIES["q331_pandas_window_udaf"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ArrowWindowPython" in plan
    assert "Window" in plan.replace("ArrowWindowPython", "")  # JVM count node
    # formatted plans list each node twice (tree line + detail block)
    assert plan.count("Exchange") == 2
    assert plan.count("Sort") == 2


def test_q335_map_in_pandas_is_barrier(spark):
    """q335's point is SCHEDULING: the MapInPandas node must carry the
    barrier flag (its final argument renders as `true` in the plan) so
    the stage gang-schedules — and the input must be hash-partitioned
    by the shard key (one Exchange), which is what makes the per-shard
    stats partitioning-independent."""
    df = QUERIES["q335_barrier_shard_stats"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    # the barrier flag is the MapInPandas node's final argument; in
    # formatted mode it renders on the node's own "Arguments:" line
    mp = [
        ln for ln in plan.splitlines()
        if ln.startswith("Arguments:") and "shard_stats" in ln
    ]
    assert mp and mp[0].rstrip().endswith("true"), mp
    assert "hashpartitioning(shard" in plan


def test_q342_is_vectorized_and_joinless_assignment(spark):
    """q342's contract: the SemDeDup assignment runs as ONE Arrow
    mapInPandas pass (the vectorized integer matmul) and the
    within-cell compare as ONE grouped applyInPandas — the plan must
    contain both Python-boundary nodes and must NOT contain q143's
    broadcast crossJoin codebook shape (no nested-loop / cartesian
    join anywhere: the corpus never joins the codebook, it maps over
    it)."""
    df = QUERIES["q342_semdedup_vectorized"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one shuffle brings cells together, one aggregates keepers; the
    # assignment itself adds none
    assert "hashpartitioning(cell" in plan


def test_q343_capped_path_is_grouped_not_selfjoin(spark):
    """The df-capped config switches the physical plan (dedup.py): pair
    generation comes from per-shingle doc-list aggregation + array
    expressions, NOT the exploded self-join — so the plan must show the
    shingle groupBy and no shingle-equality join."""
    df = QUERIES["q343_ngram_jaccard_capped"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "sort_array" in plan  # the per-shingle doc-list aggregate
    # pairs explode from arrays; the only joins left are the two
    # size-lookup joins on doc ids — no join KEYED on the shingle hash
    key_lines = [
        ln for ln in plan.splitlines()
        if ln.lstrip().startswith(("Left keys", "Right keys"))
    ]
    assert key_lines, "size-lookup joins missing entirely"
    assert not any("shingle" in ln for ln in key_lines), key_lines


def test_q343_sizes_merge_hint_is_load_bearing(spark):
    """q343's capped path is the ONE site that keeps a merge hint after
    the r13 honest-stats migration: its ``sizes`` relation is UNCACHED
    (single consumer pair), so no measured stats exist and the
    explode-propagated underestimate would statically broadcast a
    corpus-scaling relation (the r12 sf10 OOM class — a static
    broadcast is never re-checked by AQE). Machine-check both halves
    (VERDICT r13 item 9): the hint is present in the source, and the
    size-lookup joins plan as SortMergeJoin, never a broadcast build of
    the sizes aggregate."""
    import inspect

    from brazilian_e_commerce_data_pipeline_analytics_spark.llm import dedup

    src = inspect.getsource(dedup._shingle_pairs_capped_grouped)
    assert '.hint("merge")' in src, "q343's load-bearing merge hint was dropped"
    df = QUERIES["q343_ngram_jaccard_capped"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, "sizes joins lost the forced sort-merge"


def test_q345_ansi_cast_raises(spark):
    """The raise face q345's registered row cannot carry: under ANSI
    mode a plain CAST of malformed input must raise CAST_INVALID_INPUT
    (returning NULL silently is the pre-ANSI behavior the engine
    refuses; try_cast is the sanctioned NULL path)."""
    df = spark.range(1).selectExpr("'N/A' AS s")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        df.selectExpr("CAST(s AS BIGINT)").collect()


def test_q347_cogrouped_and_no_pair_shuffle(spark):
    """q347's contract: scoring reaches Python through ONE cogrouped
    applyInPandas (corpus blocked, queries replicated in-plan — no
    driver pass, no crossJoin pair materialization), and the global
    rank windows over the guard-banded local top-k union, not N x Q
    pair rows."""
    df = QUERIES["q347_knn_vectorized_topk"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q348_frozen_keys_join_is_broadcast(spark):
    """q348's epoch state (the frozen boiler-key set) is metadata-sized
    by the >=1%-threshold's own math, so the batch-side filter must be
    a broadcast join — the batch's exploded lines never shuffle for
    the key lookup."""
    df = QUERIES["q348_boiler_epoch_freeze"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan


def test_q344_incremental_is_one_lineage(spark):
    """q344 inherits q330's one-lineage contract: documents is scanned
    exactly once (the checkpointed base feeds both the history-state
    build and the batch run), every stage boundary is localCheckpoint-
    materialized, so the final plan has ZERO parquet scans — and no
    quadratic join shape anywhere in the incremental path."""
    df = QUERIES["q344_incremental_curation"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, "a stage re-scans the source table"
    assert "ExistingRDD" in plan, "stage boundaries are not materialized"
    assert "CartesianProduct" not in plan


def test_q350_frozen_chain_inherits_the_incremental_contract(spark):
    """q350 (q344 + the frozen boiler filter inline) keeps q344's
    lineage contract: zero parquet re-scans in the final plan (every
    stage boundary localCheckpoint-materialized, including the frozen
    key set), and no quadratic join shape anywhere."""
    df = QUERIES["q350_incremental_frozen_chain"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, "a stage re-scans the source table"
    assert "ExistingRDD" in plan, "stage boundaries are not materialized"
    assert "CartesianProduct" not in plan


def test_q350_frozen_boiler_filter_is_broadcast(spark):
    """The frozen-epoch boiler filter (shared by q348/q350) must ship
    the metadata-sized key set as a broadcast join against the exploded
    lines — a batch document pass never shuffles for the key lookup."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q import (
        _frozen_boiler_drops,
        _frozen_boiler_keys,
    )

    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "text")
    drops = _frozen_boiler_drops(d, _frozen_boiler_keys(d))
    plan = formatted_plan(drops)
    assert "BroadcastHashJoin" in plan


def test_q349_release_rollup_reads_only_the_published_table(spark):
    """q349's returned plan must read the PUBLISHED release table (the
    versioned COW manifest), not re-derive from the corpus: the whole
    curation chain was materialized at publish time, so the final plan's
    parquet scans are release files only and no documents scan (or any
    Python stage) survives into the read path."""
    df = QUERIES["q349_release_manifest"].builder(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Scan parquet" in plan  # the release table's partition files
    assert "documents.parquet" not in plan, "read path re-derives the corpus"
    assert ".tmp" in plan and "release_" in plan
