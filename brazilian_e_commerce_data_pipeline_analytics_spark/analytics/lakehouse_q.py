"""Lakehouse-maintenance queries: the table-state operations a warehouse
runs BETWEEN analytical queries, expressed Spark-first and put under the
differential gate.

The reference rebuilds every table from scratch each run (overwrite mode
throughout ``ingestion.py:15-22`` / ``reporting.py``); these queries are
the incremental counterparts a production deployment needs at 100 TB,
where "recompute the world" stops being an option:

- q112: skew-safe dim join (explicit salting, ``operators/skew.py``);
- q114: incremental aggregate maintenance — merge a delta into a gold
  table and prove it equals the full recompute;
- q115: SCD2 dimension maintenance (``operators/scd.py``) — versioned
  history instead of the reference's overwrite-and-lose-history;
- q116: referential-integrity / quality audit across the star schema
  (the cross-table generalization of the reference's DAG quality gates);
- q117: exact median via two-pass bin refinement — the quantile path
  that survives groups too large for a single-task sort;
- q118: semi-join reduction — a broadcast membership prefilter ahead of
  a fact→dim join, the manual twin of Spark's runtime bloom filter;
- q120: small-file compaction planning — the per-shard rewrite manifest
  from a distributed prefix sum over document sizes.

Every query returns the same values as a plain declarative formulation
(that IS each oracle), so the physical rewrites are proven semantics-
preserving, not just plausible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.compat import dsum
from ..registry import register
from ..scratch import fresh_dir, sf_key

# ---------------------------------------------------------------------------
# q112: skewed fact→dim equi-join with EXPLICIT salting, then top-k.
# q36 proved salted AGGREGATION == plain aggregation; this proves
# salted_join == plain join under the same gate. The big side (events)
# is salted on a hash of the event id; the dim side (customer) is
# replicated once per salt, so a hot user's rows spread over n_salts
# join tasks instead of one. The oracle is the UNSALTED join — identical
# output is the whole point (skew.py: a physical rewrite, not semantic).
# Scale note: use when the dim is too big to broadcast AND the key
# histogram is known-skewed up front; otherwise AQE's runtime skew
# splitting (on in session.py) already covers sort-merge joins.
# ---------------------------------------------------------------------------

_Q112_ORACLE = """
WITH joined AS (
  SELECT e.event_id, e.value, c.c_mktsegment AS segment
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
),
agg AS (
  SELECT segment,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM joined GROUP BY segment
)
SELECT segment, n_events, total_value,
       CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, segment) AS INT) AS rnk
FROM agg
ORDER BY rnk
LIMIT 3
"""


@register("q112_skew_salted_topk_join", oracle=_Q112_ORACLE, tags=("join", "skew", "topk"))
def q112_skew_salted_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join
    from ..operators.windows import top_k

    ev = load_table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        ev, cust, on=["c_custkey"], spreader=["event_id"], n_salts=16
    )
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )
    # top_k = TakeOrderedAndProject + a k-row re-rank, not a global
    # window over the aggregate (the agg is segment-cardinality here,
    # but the limit-first shape is the one that generalizes).
    ranked = top_k(agg, [F.desc("n_events"), F.col("segment")], 3, rank_col="rnk")
    return ranked.withColumn("rnk", F.col("rnk").cast("int")).orderBy("rnk")


# ---------------------------------------------------------------------------
# q114: incremental aggregate maintenance (the batch twin of q245/q246's
# streaming gold upsert, streaming/jobs._run_gold_upsert). A gold table of hourly event
# aggregates exists up to cutover T; a delta of later events arrives.
# Instead of recomputing the world, the merge:
#   1. finds the TOUCHED hours (distinct hours present in the delta);
#   2. recomputes ONLY those hours — from all events, via a broadcast
#      semi-join on the hour (the boundary hour needs its pre-T events
#      too, which is why T is deliberately NOT hour-aligned here);
#   3. anti-joins the stale touched rows out of the base and unions the
#      fresh rows in.
# The oracle is the FULL recompute over all events — value-identical
# output proves incremental == from-scratch, the invariant that lets a
# 100 TB gold table absorb deltas at O(changed partitions) cost. No
# driver collect anywhere: touched hours stay a (broadcast) relation.
# ---------------------------------------------------------------------------

_CUTOVER = "2024-01-20 12:30:00"

_Q114_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def _hourly_gold(ev: DataFrame) -> DataFrame:
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


@register(
    "q114_incremental_gold_merge",
    oracle=_Q114_ORACLE,
    tags=("lakehouse", "merge", "incremental"),
)
def q114_incremental_gold_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    base = _hourly_gold(ev.filter(F.col("ts") < cut))
    touched = (
        ev.filter(F.col("ts") >= cut)
        .select(F.date_trunc("hour", "ts").alias("hour_start"))
        .distinct()
    )
    # recompute touched hours from ALL events (the boundary hour spans
    # the cutover); semi-join keeps the scan distributed and lets the
    # tiny touched relation broadcast
    changed = _hourly_gold(
        ev.withColumn("__h", F.date_trunc("hour", "ts")).join(
            F.broadcast(touched), F.col("__h") == touched["hour_start"], "left_semi"
        )
    )
    merged = base.join(
        F.broadcast(touched), "hour_start", "left_anti"
    ).unionByName(changed)
    return merged


# ---------------------------------------------------------------------------
# q115: SCD2 dimension maintenance through operators/scd.py. The
# "customer priority" dimension is seeded from each customer's latest
# order before the split date (one open version per customer), then a
# batch of post-split orders is applied with scd2_merge: changed
# customers get their open row closed at the update's effective date
# plus a new open version; unchanged ones keep their row; customers
# first seen after the split are inserted. The oracle replays the merge
# relationally (full-outer semantics over latest-before vs
# latest-after), proving the operator's closed/open/insert row algebra
# exactly. Deterministic picks: "latest" = max (o_orderdate, then
# o_orderpriority) — the same total order scd2_merge uses internally.
# ---------------------------------------------------------------------------

_SPLIT = "1998-01-01"

_Q115_ORACLE = f"""
WITH before AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority, o_orderdate AS f0
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_orderdate DESC, o_orderpriority DESC
    ) AS rn
    FROM orders WHERE o_orderdate < TIMESTAMP '{_SPLIT}'
  ) WHERE rn = 1
),
after AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority, o_orderdate AS eff
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_orderdate DESC, o_orderpriority DESC
    ) AS rn
    FROM orders WHERE o_orderdate >= TIMESTAMP '{_SPLIT}'
  ) WHERE rn = 1
)
-- open rows that survive: no update, or update with identical attrs
SELECT b.custkey, b.priority, b.f0 AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM before b LEFT JOIN after a USING (custkey)
WHERE a.eff IS NULL OR a.priority = b.priority
UNION ALL
-- closed versions: update with differing attrs closes the open row
SELECT b.custkey, b.priority, b.f0, a.eff, FALSE
FROM before b JOIN after a USING (custkey)
WHERE a.priority <> b.priority
UNION ALL
-- new open versions: differing updates + first-seen customers
SELECT a.custkey, a.priority, a.eff, CAST(NULL AS TIMESTAMP), TRUE
FROM after a LEFT JOIN before b USING (custkey)
WHERE b.f0 IS NULL OR a.priority <> b.priority
"""


@register("q115_scd2_customer_dim", oracle=_Q115_ORACLE, tags=("lakehouse", "scd2", "dim"))
def q115_scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import key_dedup
    from ..operators.scd import scd2_merge

    o = load_table(spark, sf_dir, "orders")
    split = F.lit(_SPLIT).cast("timestamp")
    dim0 = key_dedup(
        o.filter(F.col("o_orderdate") < split),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderpriority").desc()],
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = o.filter(F.col("o_orderdate") >= split).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective"),
    )
    return scd2_merge(dim0, updates, "custkey", ["priority"], "effective")


# ---------------------------------------------------------------------------
# q116: cross-table referential-integrity and quality audit — the
# star-schema generalization of the reference's per-DAG quality gates
# (SURVEY.md A7 covers per-table gates; this is the lineage layer a
# warehouse runs before publishing gold). One row per check:
# FK orphans via LEFT ANTI joins (each a broadcast against the dim),
# PK uniqueness via count-vs-distinct, plus domain checks. All counts
# are plain COUNTs — one aggregate per check over a pruned scan; the
# whole audit is a union of tiny 1-row aggregates, trivially parallel.
# The customers-without-events completeness check is deliberately a REAL
# nonzero finding (the event user domain is 10x smaller than the
# customer table at every SF), so the audit's red path is exercised, not
# just the all-green path.
# ---------------------------------------------------------------------------

_Q116_ORACLE = """
SELECT 'fk_orders_custkey' AS check_name,
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       ) AS n_bad,
       (SELECT COUNT(*) FROM orders) AS n_total
UNION ALL
SELECT 'fk_lineitem_orderkey',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'fk_customer_nationkey',
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT COUNT(*) FROM customer)
UNION ALL
SELECT 'customers_without_events',
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)),
       (SELECT COUNT(*) FROM customer)
UNION ALL
SELECT 'pk_customer_unique',
       (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer),
       (SELECT COUNT(*) FROM customer)
UNION ALL
SELECT 'null_orderdate',
       (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'nonpositive_extendedprice',
       (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0),
       (SELECT COUNT(*) FROM lineitem)
"""


@register("q116_dim_lineage_checks", oracle=_Q116_ORACLE, tags=("quality", "audit", "fk"))
def q116_dim_lineage_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")

    def check(name: str, bad: DataFrame, total: DataFrame) -> DataFrame:
        b = bad.agg(F.count(F.lit(1)).alias("n_bad"))
        t = total.agg(F.count(F.lit(1)).alias("n_total"))
        return b.crossJoin(t).select(
            F.lit(name).alias("check_name"), "n_bad", "n_total"
        )

    fk_orders = check(
        "fk_orders_custkey",
        # customer keys scale with SF — hint dropped (q215's rule)
        o.join(c.select("c_custkey"),
               o["o_custkey"] == c["c_custkey"], "left_anti"),
        o,
    )
    fk_lineitem = check(
        "fk_lineitem_orderkey",
        li.join(o.select("o_orderkey"),
                li["l_orderkey"] == o["o_orderkey"], "left_anti"),
        li,
    )
    fk_nation = check(
        "fk_customer_nationkey",
        c.join(F.broadcast(n.select("n_nationkey")),
               c["c_nationkey"] == n["n_nationkey"], "left_anti"),
        c,
    )
    no_events = check(
        "customers_without_events",
        c.join(ev.select("user_id").distinct(),
               c["c_custkey"] == ev["user_id"], "left_anti"),
        c,
    )
    pk_unique = (
        c.agg(
            (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n_bad"),
            F.count(F.lit(1)).alias("n_total"),
        ).select(F.lit("pk_customer_unique").alias("check_name"), "n_bad", "n_total")
    )
    null_date = check("null_orderdate", o.filter(F.col("o_orderdate").isNull()), o)
    nonpos = check(
        "nonpositive_extendedprice", li.filter(F.col("l_extendedprice") <= 0), li
    )
    return (
        fk_orders.unionByName(fk_lineitem)
        .unionByName(fk_nation)
        .unionByName(no_events)
        .unionByName(pk_unique)
        .unionByName(null_date)
        .unionByName(nonpos)
    )


# ---------------------------------------------------------------------------
# q118: semi-join reduction via a broadcast membership prefilter — the
# manual, inspectable twin of Spark's runtime bloom filter (which AQE
# injects invisibly when spark.sql.optimizer.runtime.bloomFilter.enabled
# is on). The dim side's join keys are hashed into buckets; the DISTINCT
# bucket set (a few KB) broadcasts; the fact side drops every row whose
# key hashes to an absent bucket BEFORE the join shuffle. False
# positives (bucket collisions) pass the prefilter and are removed by
# the real join, so the output is exactly the plain join — which is what
# the oracle asserts. At 100 TB this is the difference between shuffling
# the whole fact table and shuffling only the ~selectivity fraction that
# can possibly match.
# ---------------------------------------------------------------------------

_Q118_ORACLE = """
SELECT s.s_nationkey AS nationkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_acctbal >= 5000
GROUP BY s.s_nationkey
"""

_N_BUCKETS = 4096


@register("q118_bloom_join_prefilter", oracle=_Q118_ORACLE, tags=("join", "bloom", "prefilter"))
def q118_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 5000)
    dim_buckets = (
        sup.select(F.pmod(F.xxhash64("s_suppkey"), F.lit(_N_BUCKETS)).alias("__b"))
        .distinct()
    )
    pref = li.withColumn(
        "__b", F.pmod(F.xxhash64("l_suppkey"), F.lit(_N_BUCKETS))
    ).join(F.broadcast(dim_buckets), "__b", "left_semi")
    return (
        pref.join(
            # supplier scales with SF — hint dropped (q215's rule); the
            # bounded broadcast here is dim_buckets (<=4096 rows) above
            sup.select("s_suppkey", "s_nationkey"),
            pref["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q117: EXACT median at scale via two-pass bin refinement — the
# alternative to single-pass exact percentiles (q27) when a group's
# rows don't fit one task's memory. Pass 1 histograms prices into fixed
# bins (one narrow shuffle, histogram size = bins x groups regardless
# of row count); pass 2 locates the bin(s) holding the two middle
# ranks via a cumulative window over the TINY histogram, then sorts
# ONLY the candidate-bin rows (selectivity ~ bin_width/range) to pull
# the exact middle values. Never a full per-group sort; the only
# row-level window runs over the candidate slice. The oracle computes
# the same (lo+hi)/2 middle-rank formula relationally — deliberately
# NOT quantile_cont, whose a+q*(b-a) float expression can differ in the
# last ulp from (a+b)/2.
# ---------------------------------------------------------------------------

_BINW = 25000.0  # ~7 candidate bins over the o_totalprice range

_Q117_ORACLE = """
WITH seg AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
  SELECT segment, price,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY price) AS rk,
         COUNT(*) OVER (PARTITION BY segment) AS n
  FROM seg
)
SELECT segment,
       CAST(MIN(n) AS BIGINT) AS n_orders,
       AVG(price) AS median_price
FROM ranked
WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
GROUP BY segment
"""


@register("q117_scalable_exact_median", oracle=_Q117_ORACLE, tags=("robust-stats", "scale", "quantile"))
def q117_scalable_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # customer scales with the fact — no broadcast hint (q215's rule)
    seg = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price")
    )
    binned = seg.withColumn("bin", F.floor(F.col("price") / _BINW))
    # pass 1: histogram — the ONLY row-count-sized shuffle
    hist = binned.groupBy("segment", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.partitionBy("segment").orderBy("bin")
    cum = hist.withColumn(
        "cum_below", F.coalesce(F.sum("cnt").over(wb.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    ).withColumn("n", F.sum("cnt").over(wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    lo_rank = F.floor((F.col("n") + 1) / 2)
    hi_rank = F.floor((F.col("n") + 2) / 2)
    cand = cum.filter(
        (F.col("cum_below") < hi_rank) & (F.col("cum_below") + F.col("cnt") >= lo_rank)
    ).select("segment", "bin", "cum_below", "n")
    # pass 2: sort only candidate-bin rows; global rank = cum_below + local
    sliced = binned.join(F.broadcast(cand), ["segment", "bin"])
    wr = Window.partitionBy("segment", "bin").orderBy("price")
    picked = sliced.withColumn(
        "rk", F.col("cum_below") + F.row_number().over(wr)
    ).filter(
        (F.col("rk") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rk") == F.floor((F.col("n") + 2) / 2))
    )
    return picked.groupBy("segment").agg(
        F.min("n").cast("bigint").alias("n_orders"),
        F.avg("price").alias("median_price"),
    )


# ---------------------------------------------------------------------------
# q120: small-file COMPACTION planning — the manifest a lakehouse
# maintenance job writes before rewriting a fragmented table: documents
# laid out in doc_id order, packed greedily into output shards of
# ~TARGET bytes via the same distributed two-level prefix sum as q88
# (operators/windows.distributed_cumsum — never a single-task global
# window). Output is the per-shard manifest (doc span, doc count,
# bytes), i.e. exactly what a compaction executor would consume. A doc
# larger than TARGET still lands in one shard (no splitting — shard
# boundaries are doc-aligned, matching parquet rewrite semantics).
# ---------------------------------------------------------------------------

_TARGET_BYTES = 16384

_Q120_ORACLE = f"""
WITH placed AS (
  SELECT doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS byte_offset
  FROM documents
)
SELECT CAST(byte_offset // {_TARGET_BYTES} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM placed
GROUP BY 1
"""


@register("q120_compaction_plan", oracle=_Q120_ORACLE, tags=("lakehouse", "compaction", "packing"))
def q120_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import distributed_cumsum

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    placed = distributed_cumsum(
        d, "doc_id", "n_chars", out="byte_offset", exclusive=True
    )
    return (
        placed.groupBy(
            F.floor(F.col("byte_offset") / _TARGET_BYTES).cast("bigint").alias("shard")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q124: EXECUTABLE lakehouse MERGE with snapshot isolation + time
# travel (sources/versioned.py) — the capability VERDICT r2 listed as
# missing-for-want-of-jars, re-expressed on plain parquet + atomic JSON
# manifests. The flow is the real maintenance cycle: v1 materializes
# the daily gold table from pre-cutover events; a delta arrives; MERGE
# rewrites ONLY the delta-touched day partitions (copy-on-write — the
# other days' data dirs are carried into the v2 manifest untouched) and
# the query returns the v2 snapshot. The oracle is the FULL daily
# recompute over all events: value-equality proves
# create→merge→snapshot-read == from-scratch, through an actual
# storage layer with a version history (v1 remains readable —
# tests/test_versioned.py pins the time-travel read). Cutover is
# mid-day, so the boundary partition must merge pre- and post-cutover
# rows, not just append.
# ---------------------------------------------------------------------------

_Q124_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def _daily_gold(ev: DataFrame) -> DataFrame:
    return ev.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


@register(
    "q124_versioned_merge_timetravel",
    oracle=_Q124_ORACLE,
    tags=("lakehouse", "merge", "time-travel"),
)
def q124_versioned_merge_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import create_table, merge_version, read_version

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    table_dir = fresh_dir("versioned", prefix=f"gold_daily_{sf_key(sf_dir)}")
    create_table(_daily_gold(ev.filter(F.col("ts") < cut)), table_dir, "d")
    touched_days = (
        ev.filter(F.col("ts") >= cut).select(F.col("ts").cast("date").alias("d")).distinct()
    )
    updates = _daily_gold(
        ev.join(
            F.broadcast(touched_days), ev["ts"].cast("date") == touched_days["d"], "left_semi"
        )
    )
    merge_version(spark, table_dir, updates, key_cols=["d", "event_type"])
    return read_version(spark, table_dir).select(
        "d", "event_type", "n_events", "total_value"
    )


# ---------------------------------------------------------------------------
# q137: CDC apply (insert/update/delete) against the versioned daily
# gold table — the missing verb of q124's lifecycle (q114/q124 upsert;
# real change feeds also RETRACT). The change batch is derived
# deterministically from the data itself:
#   U: full recompute of every day touched by post-cutover events
#      (q124's incremental-update rule);
#   D: retraction markers for the (d, 'error') rows of pre-cutover days
#      where day-of-month % 3 == 0 — restricted to days NOT touched by
#      updates so delete/upsert never race on one key (a real CDC
#      stream totally orders ops per key; a derived batch must avoid
#      the ambiguity instead).
# apply_cdc rewrites only touched partitions (copy-on-write) and DROPS
# a partition whose rows all die — the oracle replays the surviving
# rows relationally: updated days from the full recompute, untouched
# days from the pre-cut base minus the retracted keys.
# ---------------------------------------------------------------------------

_Q137_ORACLE = f"""
WITH base AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events WHERE ts < TIMESTAMP '{_CUTOVER}'
  GROUP BY 1, 2
),
upd_days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE ts >= TIMESTAMP '{_CUTOVER}'
),
upd AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events
  WHERE CAST(date_trunc('day', ts) AS DATE) IN (SELECT d FROM upd_days)
  GROUP BY 1, 2
)
SELECT d, event_type, n_events, total_value FROM upd
UNION ALL
SELECT d, event_type, n_events, total_value FROM base
WHERE d NOT IN (SELECT d FROM upd_days)
  AND NOT (event_type = 'error' AND day(d) % 3 = 0)
"""


@register(
    "q137_versioned_cdc_apply",
    oracle=_Q137_ORACLE,
    tags=("lakehouse", "cdc", "merge", "delete"),
)
def q137_versioned_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import apply_cdc, create_table, read_version

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    table_dir = fresh_dir("versioned", prefix=f"cdc_gold_{sf_key(sf_dir)}")

    base = _daily_gold(ev.filter(F.col("ts") < cut))
    create_table(base, table_dir, "d")

    touched_days = (
        ev.filter(F.col("ts") >= cut).select(F.col("ts").cast("date").alias("d")).distinct()
    )
    updates = _daily_gold(
        ev.join(F.broadcast(touched_days), ev["ts"].cast("date") == touched_days["d"], "left_semi")
    ).withColumn("op", F.lit("U"))
    deletes = (
        base.join(F.broadcast(touched_days), "d", "left_anti")
        .filter((F.col("event_type") == "error") & (F.dayofmonth("d") % 3 == 0))
        .select("d", "event_type", "n_events", "total_value")
        .withColumn("op", F.lit("D"))
    )
    apply_cdc(
        spark,
        table_dir,
        updates.unionByName(deletes),
        key_cols=["d", "event_type"],
    )
    return read_version(spark, table_dir).select(
        "d", "event_type", "n_events", "total_value"
    )


# ---------------------------------------------------------------------------
# q160: snapshot diff — "what changed between v1 and v2", the audit
# query that closes the versioned-table lifecycle (create -> merge ->
# CDC -> time travel -> DIFF). Both versions are read through the
# manifest layer (v1 via time travel, v2 as latest) and full-outer
# joined on the grain key; every key classifies as added / deleted /
# updated / unchanged, with the net row-count delta per class. This is
# Delta's `DESCRIBE HISTORY` + CDF rolled into one relational audit,
# and it's how an incremental pipeline PROVES a merge touched exactly
# what it claimed (q114's merge==recompute check at the storage layer).
#
# Scale: two manifest-pruned scans + one shuffle on the grain key; the
# diff never materializes more than the two snapshots' keyed rows.
# ---------------------------------------------------------------------------

_Q160_ORACLE = f"""
WITH v1 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events WHERE ts < TIMESTAMP '{_CUTOVER}'
  GROUP BY 1, 2
),
v2 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT CASE WHEN v1.d IS NULL THEN 'added'
              WHEN v2.d IS NULL THEN 'deleted'
              WHEN v1.n_events = v2.n_events
               AND v1.total_value = v2.total_value THEN 'unchanged'
              ELSE 'updated' END AS change_type,
         COALESCE(v2.n_events, 0) - COALESCE(v1.n_events, 0) AS dn
  FROM v1 FULL OUTER JOIN v2
    ON v1.d = v2.d AND v1.event_type = v2.event_type
)
SELECT change_type, COUNT(*) AS n_keys,
       CAST(SUM(dn) AS BIGINT) AS delta_events
FROM j GROUP BY 1
"""


@register(
    "q160_version_diff",
    oracle=_Q160_ORACLE,
    tags=("lakehouse", "time-travel", "diff"),
)
def q160_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import create_table, merge_version, read_version

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    table_dir = fresh_dir("versioned", prefix=f"diff_{sf_key(sf_dir)}")
    create_table(_daily_gold(ev.filter(F.col("ts") < cut)), table_dir, "d")
    touched_days = (
        ev.filter(F.col("ts") >= cut)
        .select(F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    updates = _daily_gold(
        ev.join(
            F.broadcast(touched_days),
            ev["ts"].cast("date") == touched_days["d"],
            "left_semi",
        )
    )
    merge_version(spark, table_dir, updates, key_cols=["d", "event_type"])

    v1 = read_version(spark, table_dir, version=1).select(
        F.col("d").alias("d1"),
        F.col("event_type").alias("et1"),
        F.col("n_events").alias("n1"),
        F.col("total_value").alias("t1"),
    )
    v2 = read_version(spark, table_dir).select(
        F.col("d").alias("d2"),
        F.col("event_type").alias("et2"),
        F.col("n_events").alias("n2"),
        F.col("total_value").alias("t2"),
    )
    j = v1.join(
        v2, (F.col("d1") == F.col("d2")) & (F.col("et1") == F.col("et2")), "full_outer"
    ).select(
        F.when(F.col("d1").isNull(), "added")
        .when(F.col("d2").isNull(), "deleted")
        .when(
            (F.col("n1") == F.col("n2")) & (F.col("t1") == F.col("t2")),
            "unchanged",
        )
        .otherwise("updated")
        .alias("change_type"),
        (F.coalesce("n2", F.lit(0)) - F.coalesce("n1", F.lit(0))).alias("dn"),
    )
    return j.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("dn").alias("delta_events"),
    )


# ---------------------------------------------------------------------------
# q172: point-in-time lookup against the SCD2 dimension — the
# CONSUMPTION side of q115's maintenance: every line item is priced
# under the customer-priority version in force on its ship date
# (valid_from <= ship < valid_to, open version = NULL upper bound).
# Plan shape: the interval predicate rides an EQUI-join on custkey
# (each customer has few versions), so this is a hash join plus a
# filter — never an unbounded range join. Items shipped before a
# customer's first version have no truth to join to and drop out
# (inner-join semantics, counted by the row totals).
# ---------------------------------------------------------------------------

_Q172_ORACLE = f"""
WITH dim AS (
  {_Q115_ORACLE}
),
fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS ship, l.l_extendedprice AS price
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.priority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(f.price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM fact f
JOIN dim d ON d.custkey = f.custkey
          AND d.valid_from <= f.ship
          AND (d.valid_to IS NULL OR f.ship < d.valid_to)
GROUP BY 1
"""


@register("q172_scd2_pit_lookup", oracle=_Q172_ORACLE, tags=("lakehouse", "scd2", "pit", "join"))
def q172_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = q115_scd2_customer_dim(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("f_custkey"),
        F.col("l_shipdate").alias("ship"),
        F.col("l_extendedprice").alias("price"),
    )
    joined = fact.join(
        dim,
        (dim.custkey == F.col("f_custkey"))
        & (dim.valid_from <= F.col("ship"))
        & (dim.valid_to.isNull() | (F.col("ship") < dim.valid_to)),
    )
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("price", "revenue"),
    )


# ---------------------------------------------------------------------------
# q228: erasure propagation audit (GDPR/right-to-be-forgotten) — the
# compliance op every lakehouse runs: a deletion list of subjects
# (fixture: custkey % 97 == 0, deterministic on both engines) must
# cascade through every derived table, and the AUDIT — not the delete
# — is the hard part: per table, how many rows the erasure removes and
# how many survive, with the fact tables reached through the key
# chain (customer → orders → lineitem). Anti-join (NOT the NOT IN
# trap — null-safe by construction) is the propagation operator; at
# 100 TB each anti-join is one shuffle on the already-partitioned key;
# real deletion lists are request-sized and AQE broadcasts them at
# runtime (no explicit hint — this fixture's %-filter list scales).
# ---------------------------------------------------------------------------

_Q228_ORACLE = """
WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
del_orders AS (
  SELECT o_orderkey FROM orders JOIN del ON o_custkey = c_custkey
)
SELECT 'customer' AS tbl,
       (SELECT COUNT(*) FROM del) AS n_erased,
       (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM del)
         AS n_surviving
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM del_orders),
       (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM del_orders)
UNION ALL
SELECT 'lineitem',
       (SELECT COUNT(*) FROM lineitem JOIN del_orders ON l_orderkey = o_orderkey),
       (SELECT COUNT(*) FROM lineitem)
         - (SELECT COUNT(*) FROM lineitem
            JOIN del_orders ON l_orderkey = o_orderkey)
"""


@register("q228_erasure_propagation", oracle=_Q228_ORACLE, tags=("lakehouse", "compliance", "anti-join"))
def q228_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # real deletion lists are request-sized (tiny); THIS fixture's is a
    # %-filter of customer, which scales with SF — so no broadcast hint
    # (q215's rule: a hint promises driver-sized at any SF; AQE
    # broadcasts a genuinely small list at runtime anyway)
    del_c = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_o = o.join(del_c, o.o_custkey == del_c.c_custkey).select(
        "o_orderkey"
    )
    del_li = li.join(del_o, li.l_orderkey == del_o.o_orderkey)

    def row(tbl: str, total: DataFrame, erased: DataFrame) -> DataFrame:
        n_t = total.agg(F.count(F.lit(1)).alias("t"))
        n_e = erased.agg(F.count(F.lit(1)).alias("e"))
        return n_t.crossJoin(n_e).select(
            F.lit(tbl).alias("tbl"),
            F.col("e").alias("n_erased"),
            (F.col("t") - F.col("e")).alias("n_surviving"),
        )

    return (
        row("customer", c, del_c)
        .unionAll(row("orders", o, del_o))
        .unionAll(row("lineitem", li, del_li))
    )


# ---------------------------------------------------------------------------
# q229: column completeness profile — the per-column data-profiling
# table every catalog/quality tool ships (null rate, distinct count,
# min/max rendered as text): ONE scan computes every column's profile
# as parallel aggregates, then the wide row UNPIVOTS to the long
# (column, metric...) shape the catalog stores. The anti-pattern this
# replaces is one scan per column — 11 passes over 100 TB instead of
# one. String rendering pins cross-engine formatting: values are cast
# through DECIMAL/DATE before VARCHAR so both engines print identical
# text.
# ---------------------------------------------------------------------------

_Q229_ORACLE = """
WITH s AS (
  SELECT COUNT(*) AS n,
         COUNT(o_orderkey) AS nn_key,  COUNT(DISTINCT o_orderkey) AS nd_key,
         COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,
         COUNT(o_totalprice) AS nn_tp, COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS nd_tp,
         COUNT(o_orderdate) AS nn_od,  COUNT(DISTINCT o_orderdate) AS nd_od,
         CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_tp,
         CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_tp,
         CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_od,
         CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_od
  FROM orders
)
SELECT 'o_orderkey' AS col, CAST(n - nn_key AS BIGINT) AS n_nulls,
       CAST(nd_key AS BIGINT) AS n_distinct, NULL AS min_val, NULL AS max_val FROM s
UNION ALL
SELECT 'o_orderstatus', CAST(n - nn_st AS BIGINT), CAST(nd_st AS BIGINT), NULL, NULL FROM s
UNION ALL
SELECT 'o_totalprice', CAST(n - nn_tp AS BIGINT), CAST(nd_tp AS BIGINT), min_tp, max_tp FROM s
UNION ALL
SELECT 'o_orderdate', CAST(n - nn_od AS BIGINT), CAST(nd_od AS BIGINT), min_od, max_od FROM s
"""


@register("q229_completeness_profile", oracle=_Q229_ORACLE, tags=("quality", "profile", "catalog"))
def q229_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderkey").alias("nn_key"),
        F.countDistinct("o_orderkey").alias("nd_key"),
        F.count("o_orderstatus").alias("nn_st"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.count("o_totalprice").alias("nn_tp"),
        F.countDistinct(F.col("o_totalprice").cast("decimal(18,2)")).alias("nd_tp"),
        F.count("o_orderdate").alias("nn_od"),
        F.countDistinct("o_orderdate").alias("nd_od"),
        F.min(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("min_tp"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("max_tp"),
        F.min(F.col("o_orderdate").cast("date")).cast("string").alias("min_od"),
        F.max(F.col("o_orderdate").cast("date")).cast("string").alias("max_od"),
    )

    def prof(col, nn, nd, mn, mx):
        return s.select(
            F.lit(col).alias("col"),
            (F.col("n") - F.col(nn)).cast("bigint").alias("n_nulls"),
            F.col(nd).cast("bigint").alias("n_distinct"),
            (F.col(mn) if mn else F.lit(None).cast("string")).alias("min_val"),
            (F.col(mx) if mx else F.lit(None).cast("string")).alias("max_val"),
        )

    return (
        prof("o_orderkey", "nn_key", "nd_key", None, None)
        .unionAll(prof("o_orderstatus", "nn_st", "nd_st", None, None))
        .unionAll(prof("o_totalprice", "nn_tp", "nd_tp", "min_tp", "max_tp"))
        .unionAll(prof("o_orderdate", "nn_od", "nd_od", "min_od", "max_od"))
    )


# ---------------------------------------------------------------------------
# q324: table MAINTENANCE lifecycle — the OPERATIONAL verbs of the
# versioned store, executed and value-audited in one row: q124 covers
# create/merge/time-travel and q137 CDC; the remaining production duo
# is OPTIMIZE (compact a partition's small files into one — the
# EXECUTION of q120's compaction plan) and VACUUM (retention: drop
# manifests older than keep_last and every data dir only they
# reference). Sequence: create (v1, pre-cutover days) -> merge (v2,
# post-cutover recompute of touched days) -> compact the latest day's
# partition (v3, layout-only, values untouched) -> vacuum(keep_last=2)
# (v1's manifest goes; the dirs it alone referenced — the pre-merge
# copies of days touched by BOTH halves — are deleted).
#
# The audit output proves all of it at once: per-event-type aggregates
# over the post-maintenance latest read must equal the full recompute
# (compaction and vacuum changed NOTHING readable), the vacuumed-dir
# count equals the days-with-both-halves count (closed form from the
# data), and the compacted partition reads back as exactly ONE file.
# Safety invariant (test-pinned in tests/test_versioned.py): vacuum's
# deletion set is computed from surviving manifests only, so a reader
# of a retained version can never lose a file. Scale: compaction
# rewrites ONE partition, vacuum is metadata + rmdir — neither touches
# the fact table.
# ---------------------------------------------------------------------------

_Q324_ORACLE = f"""
WITH both_halves AS (
  SELECT CAST(ts AS DATE) AS d FROM events
  GROUP BY 1
  HAVING SUM(CASE WHEN ts < TIMESTAMP '{_CUTOVER}' THEN 1 ELSE 0 END) > 0
     AND SUM(CASE WHEN ts >= TIMESTAMP '{_CUTOVER}' THEN 1 ELSE 0 END) > 0
)
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       CAST((SELECT COUNT(*) FROM both_halves) AS BIGINT) AS vacuum_removed,
       CAST(1 AS BIGINT) AS compacted_files
FROM events
GROUP BY 1
"""


@register(
    "q324_lakehouse_maintenance",
    oracle=_Q324_ORACLE,
    tags=("lakehouse", "compaction", "vacuum", "ops"),
)
def q324_lakehouse_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.versioned import (
        compact_partition,
        create_table,
        latest_version,
        merge_version,
        read_version,
        vacuum,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    table_dir = fresh_dir("versioned", prefix=f"maint_{sf_key(sf_dir)}")

    create_table(_daily_gold(ev.filter(F.col("ts") < cut)), table_dir, "d")
    touched_days = (
        ev.filter(F.col("ts") >= cut)
        .select(F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    updates = _daily_gold(
        ev.join(
            F.broadcast(touched_days),
            ev["ts"].cast("date") == touched_days["d"],
            "left_semi",
        )
    )
    merge_version(spark, table_dir, updates, key_cols=["d", "event_type"])

    # OPTIMIZE the busiest-by-convention partition (the latest day —
    # one bounded 1-row collect, the sanctioned driver read)
    last_day = str(
        ev.agg(F.max(F.col("ts").cast("date")).alias("m")).collect()[0]["m"]
    )
    compact_partition(spark, table_dir, last_day, target_files=1)
    removed = vacuum(table_dir, keep_last=2)

    # audit: the compacted partition must be exactly ONE parquet file
    from ..sources.versioned import _read_manifest  # manifest is the API here

    m = _read_manifest(table_dir, latest_version(table_dir))
    cdir = os.path.join(table_dir, m["parts"][last_day])
    n_files = len([f for f in os.listdir(cdir) if f.endswith(".parquet")])

    return (
        read_version(spark, table_dir)
        .groupBy("event_type")
        .agg(
            F.countDistinct("d").alias("n_days"),
            F.sum("n_events").alias("n_events"),
            # stored per-(d, type) totals are exact decimal(18,4) values
            # surfaced as double; casting back is lossless, so the sum
            # is order-independent (the dsum discipline)
            F.sum(F.col("total_value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            "n_days",
            "n_events",
            "total_value",
            F.lit(int(removed)).cast("bigint").alias("vacuum_removed"),
            F.lit(int(n_files)).cast("bigint").alias("compacted_files"),
        )
    )


# ---------------------------------------------------------------------------
# q334: RESTORE — the rollback verb that completes the versioned-table
# lifecycle (create q124 -> merge q114/q160 -> CDC q124 -> diff q160 ->
# OPTIMIZE/VACUUM q324 -> RESTORE). A bad merge lands as v2; RESTORE TO
# VERSION 1 publishes v3 whose manifest re-points at v1's immutable
# data dirs — Delta's `RESTORE TABLE ... TO VERSION AS OF`, pure
# METADATA (zero rows copied, zero rows through the driver), and itself
# a new commit so history keeps both the bad version and the rollback.
# The registered result reads ALL THREE versions back through the
# manifest layer and aggregates each: the driver's value check IS the
# restore-equivalence proof (v3 rows == v1 rows, both != v2). The
# metadata-only property and the restore-then-vacuum retention
# interplay are pinned in tests/test_versioned.py.
#
# Scale: manifest copy is O(partitions) driver-side metadata (the same
# class Delta's commit protocol materializes); the three reads are
# ordinary manifest-pruned scans.
# ---------------------------------------------------------------------------

_Q334_ORACLE = f"""
WITH g1 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events
  FROM events WHERE ts < TIMESTAMP '{_CUTOVER}'
  GROUP BY 1, 2
),
g2 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
a1 AS (SELECT COUNT(*) AS nk, CAST(SUM(n_events) AS BIGINT) AS ne FROM g1),
a2 AS (SELECT COUNT(*) AS nk, CAST(SUM(n_events) AS BIGINT) AS ne FROM g2)
SELECT CAST(1 AS INT) AS version, nk AS n_keys, ne AS total_events,
       CAST(NULL AS INT) AS restored_from FROM a1
UNION ALL SELECT 2, nk, ne, NULL FROM a2
UNION ALL SELECT 3, nk, ne, 1 FROM a1
"""


@register(
    "q334_version_restore",
    oracle=_Q334_ORACLE,
    tags=("lakehouse", "time-travel", "restore", "ops"),
)
def q334_version_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import (
        _read_manifest,
        create_table,
        merge_version,
        read_version,
        restore_version,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUTOVER).cast("timestamp")
    table_dir = fresh_dir("versioned", prefix=f"restore_{sf_key(sf_dir)}")

    create_table(_daily_gold(ev.filter(F.col("ts") < cut)), table_dir, "d")
    touched_days = (
        ev.filter(F.col("ts") >= cut)
        .select(F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    updates = _daily_gold(
        ev.join(
            F.broadcast(touched_days),
            ev["ts"].cast("date") == touched_days["d"],
            "left_semi",
        )
    )
    merge_version(spark, table_dir, updates, key_cols=["d", "event_type"])
    v3 = restore_version(table_dir, to_version=1)
    restored_from = _read_manifest(table_dir, v3).get("restored_from")

    legs = []
    for v in (1, 2, 3):
        legs.append(
            read_version(spark, table_dir, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("n_events").cast("bigint").alias("total_events"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_keys",
                "total_events",
                (
                    F.lit(restored_from if v == 3 else None).cast("int")
                ).alias("restored_from"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
