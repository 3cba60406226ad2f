"""Spark 4 SQL-surface extensions: recursive CTEs, pipe syntax, and SQL
UDFs — the three query-language features Spark 4 added beyond the
reference's Spark 3.5 surface (`/root/reference/Readme.md:22`), each
registered with a value-exact DuckDB oracle.

These matter for parity because they're USER-facing: a user migrating
SQL from another warehouse (recursive hierarchies, pipe-style
exploration, CREATE FUNCTION macros) can run it here unchanged. They
compile to ordinary Catalyst plans — a recursive CTE is an iterative
union the optimizer bounds, pipe syntax is sugar, a SQL UDF inlines into
the plan as an expression (NOT a Python boundary) — so nothing here
costs scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views, table_path
from ..registry import register
from ..scratch import built_once, scratch_path, sf_key
from ..session import conf_scope

# ---------------------------------------------------------------------------
# q194: recursive CTE — transitive reachability over a co-purchase
# subgraph (q79/q123's edges, traversed instead of enumerated): parts
# reachable from the seed (min partkey in the subgraph) within 3 hops,
# with the shortest hop count. UNION ALL recursion with an explicit
# depth bound and a min(depth) rollup keeps the semantics identical in
# both engines (DuckDB's recursive UNION would dedup rows
# mid-iteration; bounding + final GROUP BY avoids depending on that).
# UNION ALL enumerates PATHS, not nodes — frontier grows with degree^h
# — so the walked graph is the sparse partkey%20 slice; on a dense
# graph use the UNION (visited-set) form or the iterative min-label
# operator (operators/graph.py, q82) instead. Recursion cost model:
# |frontier| x avg-degree shuffle joins per hop, same as q128's
# PageRank steps.
# ---------------------------------------------------------------------------

_Q194_SQL = """
WITH RECURSIVE
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey % 20 = 0 AND b.l_partkey % 20 = 0
),
edges AS (
  SELECT src, dst FROM pairs
  UNION
  SELECT dst AS src, src AS dst FROM pairs
),
seed AS (SELECT MIN(src) AS p FROM edges),
reach(part, depth) AS (
  SELECT p AS part, 0 AS depth FROM seed
  UNION ALL
  SELECT e.dst AS part, r.depth + 1 AS depth
  FROM reach r JOIN edges e ON e.src = r.part
  WHERE r.depth < 3
)
SELECT CAST(depth AS INT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM (SELECT part, MIN(depth) AS depth FROM reach GROUP BY part)
GROUP BY depth
"""


@register("q194_recursive_cte", oracle=_Q194_SQL, tags=("sql-api", "recursive", "graph"))
def q194_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(_Q194_SQL)


# ---------------------------------------------------------------------------
# q195: SQL pipe syntax (|>) — the linear FROM-first query style
# (SPARK-49555, from the SQL:2023 pipe-query direction). Same logical
# plan as the nested form; registered so the surface is proven, with the
# conventional-SQL oracle showing the equivalence.
# ---------------------------------------------------------------------------

_Q195_PIPE_SQL = """
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE COUNT(*) AS n_orders,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS revenue
   GROUP BY o_orderpriority
|> WHERE n_orders > 0
"""

_Q195_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 0
"""


@register("q195_pipe_syntax", oracle=_Q195_ORACLE, tags=("sql-api", "pipe"))
def q195_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_Q195_PIPE_SQL)


# ---------------------------------------------------------------------------
# q196: SQL UDF (CREATE FUNCTION ... RETURN expr) — a declarative scalar
# macro that Catalyst INLINES into the plan (no Python boundary, no
# serialization: the plan shows a CASE expression, pinned in
# tests/test_plans.py). The portable way to share business logic like
# price banding across queries without shipping code.
# ---------------------------------------------------------------------------

_Q196_BAND = (
    "CASE WHEN {x} < 50000 THEN 'low' WHEN {x} < 150000 THEN 'mid'"
    " ELSE 'high' END"
)

_Q196_ORACLE = f"""
SELECT {_Q196_BAND.format(x="CAST(o_totalprice AS DOUBLE)")} AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
"""


@register("q196_sql_udf", oracle=_Q196_ORACLE, tags=("sql-api", "udf"))
def q196_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) "
        "RETURNS STRING RETURN "
        + _Q196_BAND.format(x="x")
    )
    return spark.sql(
        """
        SELECT price_band(CAST(o_totalprice AS DOUBLE)) AS band,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
        """
    )


# ---------------------------------------------------------------------------
# q222: correlated LATERAL subquery — the SQL-surface form of
# "top-N per group" every warehouse migrator reaches for before
# learning window functions: for each nation, the LATERAL subquery
# re-executes with the outer row's nationkey in scope (ORDER BY ...
# LIMIT 3 inside the correlation). Catalyst decorrelates it into the
# same rank-per-group plan q22 builds explicitly — proving users can
# bring this syntax unchanged. Tie-break on (c_acctbal DESC, c_name)
# is a total order, so the 3 rows per nation are engine-identical.
# ---------------------------------------------------------------------------

_Q222_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 3) t
"""


@register("q222_lateral_topk", oracle=_Q222_SQL, tags=("sql-api", "lateral", "topk"))
def q222_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("nation", "customer"))
    return spark.sql(_Q222_SQL)


# ---------------------------------------------------------------------------
# q226: join-strategy hints — the knob a 100 TB tuner actually turns
# when AQE's choice is wrong: the same customer⋈orders aggregation
# computed twice, once under MERGE (sort-merge) and once under
# SHUFFLE_HASH, unioned with the strategy tagged per row. Results must
# be bit-identical (hints change the PHYSICAL operator, never
# semantics) — which is exactly what the oracle proves by replaying
# one plain join for both tags. The plan pin (tests/test_plans.py)
# asserts the hints actually took: one SortMergeJoin and one
# ShuffledHashJoin node, no broadcast for either branch.
# ---------------------------------------------------------------------------

_Q226_HALF = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

_Q226_ORACLE = (
    "SELECT 'merge' AS strategy, * FROM (" + _Q226_HALF + ")"
    " UNION ALL SELECT 'shuffle_hash' AS strategy, * FROM (" + _Q226_HALF + ")"
)


@register("q226_join_strategy_hints", oracle=_Q226_ORACLE, tags=("sql-api", "hints", "join"))
def q226_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    def half(hint: str, tag: str) -> DataFrame:
        return (
            c.hint(hint)
            .join(o, c.c_custkey == o.o_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("revenue"),
            )
            .select(F.lit(tag).alias("strategy"), "*")
        )

    return half("merge", "merge").unionAll(half("shuffle_hash", "shuffle_hash"))


# ---------------------------------------------------------------------------
# q227: parameterized SQL — spark.sql(query, args={...}) with named
# parameter markers (Spark 3.4+): the API that kills SQL-injection-by-
# f-string in every query service. Parameters bind as literals BEFORE
# analysis, so Catalyst constant-folds them into pushed filters —
# identical plan to hand-inlined literals (no "dynamic SQL" penalty).
# The oracle inlines the same values, proving the binding is
# semantically transparent.
# ---------------------------------------------------------------------------

_Q227_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= :start_date AND o_orderstatus = :status
GROUP BY o_orderpriority
"""

_Q227_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@register("q227_parameterized_sql", oracle=_Q227_ORACLE, tags=("sql-api", "parameters"))
def q227_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        _Q227_SQL,
        args={"start_date": datetime.date(1996, 1, 1), "status": "O"},
    )


# ---------------------------------------------------------------------------
# q242: GROUP BY ALL / ORDER BY ALL — the exploration sugar (Spark
# 3.4+/DuckDB-originated) that migrating analysts type on day one:
# every non-aggregate select item becomes a grouping key, and ORDER BY
# ALL totals the ordering. The SAME SQL text runs verbatim on both
# engines here — the oracle IS the query — proving drop-in syntax
# parity. Compiles to the ordinary grouped aggregate; zero scale cost.
# ---------------------------------------------------------------------------

_Q242_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@register("q242_group_by_all", oracle=_Q242_SQL, tags=("sql-api", "sugar"))
def q242_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_Q242_SQL)


# ---------------------------------------------------------------------------
# q243: IDENTIFIER() clause — q227 parameterized VALUES; this
# parameterizes NAMES (Spark 3.5+): a query service routing to a
# caller-chosen table/column without f-string interpolation (the
# injection vector the clause exists to kill — a malicious
# "orders; DROP ..." string fails to parse as an identifier instead
# of executing). The oracle inlines the same identifiers literally.
# ---------------------------------------------------------------------------

_Q243_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


@register("q243_identifier_clause", oracle=_Q243_ORACLE, tags=("sql-api", "parameters"))
def q243_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:group_col) AS o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(MAX(CAST(IDENTIFIER(:val_col) AS DECIMAL(18,2))) AS DOUBLE)
                 AS max_price
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:group_col)
        """,
        args={"tbl": "orders", "group_col": "o_orderpriority", "val_col": "o_totalprice"},
    )


# ---------------------------------------------------------------------------
# q247: listagg ... WITHIN GROUP (SQL:2023, Spark 4.0+) — ordered string
# aggregation, the "CSV of members per group" dashboards ask for. The
# ORDER BY inside WITHIN GROUP must be a TOTAL order (count desc + name
# tiebreak) or the output string is nondeterministic in any engine —
# same contract as every rank in this repo. DuckDB replays it with
# string_agg(expr, ',' ORDER BY ...). The aggregation itself is an
# ordinary partial-merge group-by; only the per-group ordered merge is
# new, and group width here is nation-cardinality (bounded).
# ---------------------------------------------------------------------------

_Q247_ORACLE = """
WITH per_nation AS (
  SELECT r_name, n_name, COUNT(*) AS n_cust
  FROM region
  JOIN nation ON n_regionkey = r_regionkey
  JOIN customer ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_cust DESC, n_name)
         AS nations_by_customers,
       CAST(SUM(n_cust) AS BIGINT) AS n_customers
FROM per_nation
GROUP BY r_name
"""


@register("q247_listagg_within_group", oracle=_Q247_ORACLE, tags=("sql-api", "agg", "listagg"))
def q247_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("region", "nation", "customer"))
    return spark.sql(
        """
        WITH per_nation AS (
          SELECT r_name, n_name, COUNT(*) AS n_cust
          FROM region
          JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        )
        SELECT r_name,
               listagg(n_name, ',')
                 WITHIN GROUP (ORDER BY n_cust DESC, n_name)
                 AS nations_by_customers,
               SUM(n_cust) AS n_customers
        FROM per_nation
        GROUP BY r_name
        """
    )


# ---------------------------------------------------------------------------
# q248: SQL session variables (DECLARE / SET VARIABLE, Spark 4.0+) — the
# warehouse scripting surface q227 (parameter markers) and q243
# (IDENTIFIER) don't cover: a variable declared once and read by later
# statements, server-side. Catalyst folds the variable read into a
# literal at plan time, so the threshold reaches PushedFilters exactly
# like a hand-written constant (same property q227 pins). The oracle
# inlines the same literals.
# ---------------------------------------------------------------------------

_Q248_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS price_bucket,
       COUNT(*) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
WHERE o_totalprice >= 100000.0
GROUP BY 1
"""


@register("q248_sql_variables", oracle=_Q248_ORACLE, tags=("sql-api", "variables"))
def q248_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE bucket_width DOUBLE DEFAULT 1.0")
    spark.sql("SET VARIABLE price_floor = 100000.0")
    spark.sql("SET VARIABLE bucket_width = 50000.0")
    return spark.sql(
        """
        SELECT CAST(floor(o_totalprice / bucket_width) AS INT) AS price_bucket,
               COUNT(*) AS n_orders,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders
        WHERE o_totalprice >= price_floor
        GROUP BY 1
        """
    )


# ---------------------------------------------------------------------------
# q249: Observation metrics (df.observe / CollectMetrics) — pipeline
# data-quality metrics computed DURING the sink write, zero extra scan:
# the classic alternative is a second full pass (or worse, a
# df.count() + df.agg() pair = two passes) over 100 TB just to log row
# counts. The builder writes a projected gold extract to parquet with
# an Observation attached; the metrics materialize as a side effect of
# that single write action, and the returned one-row frame is driver
# METADATA (a handful of scalars), not a data collect. Oracle recomputes
# the same aggregates from the table.
# ---------------------------------------------------------------------------

_Q249_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
       MIN(o_custkey) AS min_custkey,
       MAX(o_custkey) AS max_custkey
FROM orders
"""


@register("q249_observe_metrics", oracle=_Q249_ORACLE, tags=("observe", "quality", "sink"))
def q249_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..catalog import load_table

    out_dir = scratch_path(f"observe_gold_{sf_key(sf_dir)}")
    obs = Observation("gold_metrics")
    o = load_table(spark, sf_dir, "orders")
    extract = o.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias(
            "total_price"
        ),
        # DISTINCT aggregates are rejected in observed metrics (they
        # cannot merge in bounded per-partition state — exactly the
        # property that keeps observe() free); key-RANGE completeness
        # metrics are the mergeable alternative.
        F.min("o_custkey").alias("min_custkey"),
        F.max("o_custkey").alias("max_custkey"),
    )
    extract.write.mode("overwrite").parquet(out_dir)  # ONE pass: sink + metrics
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_open_orders"], m["total_price"],
          m["min_custkey"], m["max_custkey"])],
        "n_rows bigint, n_open_orders bigint, total_price double,"
        " min_custkey bigint, max_custkey bigint",
    )


# ---------------------------------------------------------------------------
# q254: the SQL PIVOT clause — q31 pivots through the DataFrame API;
# this is the warehouse-SQL spelling (FROM ... PIVOT (agg FOR col IN
# (...)) ), which compiles to the same single Expand+Aggregate pass.
# The IN list is explicit (static output schema — a pivot without one
# needs a distinct-scan first, a scale smell); absent cells surface as
# NULL and are pinned to 0 like q31. Oracle = conditional aggregation.
# ---------------------------------------------------------------------------

_Q254_ORACLE = """
SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS notspec,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
FROM orders
GROUP BY 1
"""


@register("q254_sql_pivot_clause", oracle=_Q254_ORACLE, tags=("sql-api", "pivot"))
def q254_sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_year,
               coalesce(urgent, 0) AS urgent,
               coalesce(high, 0) AS high,
               coalesce(medium, 0) AS medium,
               coalesce(notspec, 0) AS notspec,
               coalesce(low, 0) AS low
        FROM (
          SELECT year(CAST(o_orderdate AS DATE)) AS o_year, o_orderpriority
          FROM orders
        )
        PIVOT (
          COUNT(1) FOR o_orderpriority IN (
            '1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
            '4-NOT SPECIFIED' AS notspec, '5-LOW' AS low
          )
        )
        """
    )


# ---------------------------------------------------------------------------
# q255: percentile_disc ... WITHIN GROUP — the SQL:2003 inverse-
# distribution aggregate. DISC (not CONT) on purpose: it returns an
# ACTUAL data value (smallest x with cume_dist >= p), so the result is
# engine-exact with no interpolation-formula contract; the oracle IS
# that definition spelled out as a window + conditional min, immune to
# either engine's built-in quirks. percentile_cont's a+f·(b−a) float
# shape is the same trap q117 documents — use approx/exact percentile
# operators (q27/q117/q177) when interpolation is genuinely wanted.
# ---------------------------------------------------------------------------

_Q255_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority,
         o_totalprice,
         cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       MIN(CASE WHEN cd >= 0.25 THEN o_totalprice END) AS p25,
       MIN(CASE WHEN cd >= 0.50 THEN o_totalprice END) AS p50,
       MIN(CASE WHEN cd >= 0.75 THEN o_totalprice END) AS p75
FROM ranked
GROUP BY o_orderpriority
"""


@register("q255_percentile_disc", oracle=_Q255_ORACLE, tags=("sql-api", "percentile", "agg"))
def q255_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q260: the SQL UNPIVOT clause — q254's inverse, and the SQL spelling of
# q65's DataFrame unpivot: a wide per-year priority-count row (built by
# the PIVOT pass) turned back into long (year, priority, n) form.
# UNPIVOT drops NULL cells by default (like the DataFrame API); the
# pivot's coalesce-to-0 happens first, so the round trip is lossless
# and the composition proves PIVOT∘UNPIVOT == the plain group-by,
# which is exactly what the oracle computes.
# ---------------------------------------------------------------------------

_Q260_ORACLE = """
SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       CASE o_orderpriority
         WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
         WHEN '3-MEDIUM' THEN 'medium' WHEN '4-NOT SPECIFIED' THEN 'notspec'
         ELSE 'low' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1, 2
"""


@register("q260_sql_unpivot_clause", oracle=_Q260_ORACLE, tags=("sql-api", "unpivot"))
def q260_sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        WITH wide AS (
          SELECT o_year,
                 coalesce(urgent, 0) AS urgent, coalesce(high, 0) AS high,
                 coalesce(medium, 0) AS medium, coalesce(notspec, 0) AS notspec,
                 coalesce(low, 0) AS low
          FROM (
            SELECT year(CAST(o_orderdate AS DATE)) AS o_year, o_orderpriority
            FROM orders
          )
          PIVOT (
            COUNT(1) FOR o_orderpriority IN (
              '1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
              '4-NOT SPECIFIED' AS notspec, '5-LOW' AS low
            )
          )
        )
        SELECT o_year, priority, n_orders
        FROM wide
        UNPIVOT (n_orders FOR priority IN (urgent, high, medium, notspec, low))
        -- empty (year, priority) cells unpivot as 0 but have no oracle
        -- group-by row; filter to the existence semantics both share
        WHERE n_orders > 0
        """
    )


# ---------------------------------------------------------------------------
# q262: cost-based optimization via table statistics (SURVEY §4's last
# optimizer row) — `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
# COLUMNS` + spark.sql.cbo.enabled. Without column stats, a Filter's
# estimated size is its CHILD's size (the raw file bytes), so a
# selective point-filter on a big fact still plans a sort-merge join;
# with stats, FilterEstimation shrinks the estimate to rows/NDV and the
# planner broadcasts the filtered side instead. The before/after flip
# (SMJ -> BHJ under an artificially small 4 KB broadcast threshold) is
# pinned in tests/test_plans.py::test_q262_analyze_stats_flip_join_strategy.
# At 100 TB this is the difference between shuffling a full fact table
# and shipping a few KB — and it's entirely declarative: same query,
# better stats, better plan. Confs are builder-scoped by
# session.conf_scope, with the physical plan forced inside the scope
# (the lazy-plan rule in its docstring).
#
# Two real-world caveats encoded here: (1) the date column is stored as
# DATE in the stats table — Spark 4.1's column-stats estimation hits a
# `scala.MatchError: TimestampNTZType` (probed 2026-08-15) if a
# TimestampNTZ column gets column stats and then meets FilterEstimation,
# so NTZ event-time columns should be cast to DATE/TIMESTAMP before
# ANALYZE; (2) tables are EXTERNAL (explicit path) so a leftover
# warehouse dir from a dead session can never block re-creation.
# ---------------------------------------------------------------------------

_Q262_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE CAST(o_orderdate AS DATE) = DATE '1995-06-19'
GROUP BY 1
"""


# TimestampNTZ columns crash FilterEstimation under ANALYZE'd column
# stats (Spark 4.1 scala.MatchError — found round 7): store DATE first.
# Each entry is (source parquet stem, transform): the stem lets a
# pseudo-source (events_anon) derive from a real table.
_CBO_FIXES = {
    "orders": ("orders", lambda d, F: d.withColumn("o_orderdate", F.to_date("o_orderdate"))),
    "lineitem": ("lineitem", lambda d, F: d.withColumn("l_shipdate", F.to_date("l_shipdate"))),
    # ts is TIMESTAMP(NANOS) (the catalog gotcha) and props is a map —
    # both hazards for ANALYZE FOR ALL COLUMNS; q284 needs neither
    "events": ("events", lambda d, F: d.select("event_id", "user_id", "event_type", "value")),
    # q289's sentinel-skew key: every 5th user's events collapse onto
    # key 0 (the "anonymous traffic" mega-key), the rest stay unique
    # per event — the zipf-ish shape where equi-height histograms must
    # beat NDV-uniform JoinEstimation
    "events_anon": (
        "events",
        lambda d, F: d.select(
            F.when(F.col("user_id") % 5 == 0, F.lit(0))
            .otherwise(F.col("event_id"))
            .alias("skew_key"),
            "event_type",
        ),
    ),
}


def cbo_stats_tables(
    spark: SparkSession,
    sf_dir: str,
    analyze: bool = True,
    sources: tuple[str, ...] = ("orders", "customer"),
) -> tuple[str, ...]:
    """Create (and with ``analyze=True`` ANALYZE) the external stats
    tables q262/q281 query; returns the table names in ``sources``
    order. ``analyze=False`` gives the plan-pin tests their stats-less
    "before" state. The parquet data is written once per process; DDL
    registration and ANALYZE run per call, since the in-memory catalog
    (and its stats) is fresh per session and the plan-pin test flips
    analyze on/off."""
    from pyspark.sql import functions as F

    key = sf_key(sf_dir)
    spark.sql("CREATE DATABASE IF NOT EXISTS cbo_stats")
    names = tuple(f"cbo_stats.{src}_{key.replace('.', '_')}" for src in sources)
    for tbl, src in zip(names, sources):
        stem, fix = _CBO_FIXES.get(src, (src, lambda d, F: d))
        loc = built_once(
            "cbo",
            key,
            src,
            build=lambda d: fix(spark.read.parquet(table_path(sf_dir, stem)), F)
            .write.mode("overwrite").parquet(d),
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"CREATE TABLE {tbl} USING PARQUET LOCATION '{loc}'")
        if analyze:
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    return names


@register("q262_cbo_stats_join_strategy", oracle=_Q262_ORACLE, tags=("optimizer", "cbo", "statistics", "ddl"))
def q262_cbo_stats_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.compat import dmoney

    ot, ct = cbo_stats_tables(spark, sf_dir)
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "4096",
    }
    with conf_scope(spark, confs):
        o = spark.table(ot).filter(
            F.col("o_orderdate") == F.lit("1995-06-19").cast("date")
        )
        c = spark.table(ct)
        df = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.sum(dmoney("o_totalprice")).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )
        # materialize the physical plan while CBO is active (the
        # lazy-plan rule in session.conf_scope's docstring)
        df._jdf.queryExecution().executedPlan()
    return df


# ---------------------------------------------------------------------------
# q281: CBO join REORDER — q262 pinned the stats-driven *strategy* flip
# (SMJ→BHJ); this pins the stats-driven *order* flip on a 3-table
# chain. The query is written in the deliberately suboptimal syntactic
# order fact-first (lineitem ⋈ orders ⋈ filtered customer): without
# joinReorder Catalyst keeps it — the big l⋈o intermediate materializes
# before the selective customer filter cuts it; with
# spark.sql.cbo.joinReorder.enabled + ANALYZE'd column stats the DP
# reorderer plans (orders ⋈ customer) first, shrinking the intermediate
# by the filter's selectivity before lineitem joins in. The order flip
# itself is plan-pinned in tests/test_plans.py::
# test_q281_cbo_join_reorder_flips_order (before/after, like q262's
# strategy pin); the registered result is order-independent, so the
# oracle checks values while the test pins the optimization.
# Scale: join order is THE cost lever on star joins at 100 TB — DP
# reordering from stats is how the engine gets it without hand-tuning.
# ---------------------------------------------------------------------------

_Q281_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal < 500.0
GROUP BY 1
"""


def q281_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-table chain in its deliberately fact-first syntactic order,
    shared by the registered query and the plan-pin test."""
    from pyspark.sql import functions as F

    ot, ct, lt = cbo_stats_tables(
        spark, sf_dir, sources=("orders", "customer", "lineitem")
    )
    l = spark.table(lt)
    o = spark.table(ot)
    c = spark.table(ct).filter(F.col("c_acctbal") < 500.0)
    # exact decimal Σ price·(1−disc) — the q01/q215 money recipe
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register(
    "q281_cbo_join_reorder",
    oracle=_Q281_ORACLE,
    tags=("optimizer", "cbo", "statistics", "join-order"),
)
def q281_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    with conf_scope(spark, confs):
        df = q281_join(spark, sf_dir)
        # materialize the physical plan while CBO is active (the
        # lazy-plan rule in session.conf_scope's docstring)
        df._jdf.queryExecution().executedPlan()
    return df


# ---------------------------------------------------------------------------
# q284: equi-height HISTOGRAM statistics — the third CBO row (strategy
# q262, order q281, selectivity here). Basic column stats assume a
# UNIFORM value distribution: on the right-skewed events.value column
# (median 35, max 490), a tail filter `value > 245` interpolates to
# ~50% of rows when the truth is <1% — measured 5.00E+3 estimated vs
# 67 true at sf0.01, a 71x error that cascades into every join-order
# and strategy decision above the filter. ANALYZE under
# spark.sql.statistics.histogram.enabled=true adds an equi-height
# histogram per column and FilterEstimation reads selectivity from the
# buckets instead — estimate 70 vs 67 true. The estimate fix is pinned
# in tests/test_plans.py::test_q284_histogram_fixes_skewed_estimate
# (basic >= 10x histogram estimate; histogram within 3x of truth); the
# registered result is the tail rollup itself, value-exact.
# Scale: histograms are THE defense for skewed predicate selectivity
# at 100 TB — without them every tail-filter plan upstream of a join
# is sized from a uniform fiction.
# ---------------------------------------------------------------------------

_Q284_TAIL = 245.0

_Q284_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
WHERE value > {_Q284_TAIL}
GROUP BY event_type
"""


@register(
    "q284_cbo_histogram_stats",
    oracle=_Q284_ORACLE,
    tags=("optimizer", "cbo", "statistics", "histogram"),
)
def q284_cbo_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.statistics.histogram.enabled": "true",
    }
    with conf_scope(spark, confs):
        (et,) = cbo_stats_tables(spark, sf_dir, sources=("events",))
        df = (
            spark.table(et)
            .filter(F.col("value") > _Q284_TAIL)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        df._jdf.queryExecution().executedPlan()  # plan under active confs
    return df


# ---------------------------------------------------------------------------
# q289: equi-height histograms feeding JOIN estimation — the fourth CBO
# row (strategy q262, order q281, filter selectivity q284, join
# cardinality here). NDV-based JoinEstimation assumes every key carries
# |T|/ndv rows; on the sentinel-skew shape (events_anon: all events of
# every 5th user collapse onto skew_key 0 — the "anonymous traffic"
# mega-key holding ~20% of rows — all other keys unique per event) a
# self-join's true cardinality is dominated by the mega-key's square,
# which the uniform model misses by orders of magnitude: measured at
# sf0.01, true 4.10E+6 pair rows vs NDV estimate ~1.2E+4 (≈330x under)
# vs histogram estimate ≈1.0x — Spark's computeCardinalityByHistogram
# merges same-valued bucket runs into one range, so a mega-key spanning
# many equi-height buckets contributes height²/1, recovering the square
# the NDV model averages away. Pinned mechanically in tests/
# test_plans.py::test_q289_histogram_fixes_join_estimate (basic >= 10x
# off; histogram within 3x of truth); measured numbers probed on Spark
# 4.1.2 (2026-08-15). The registered result is the pair-type rollup of
# the same self-join, value-exact.
# Scale: join-output cardinality is the number every upstream decision
# (strategy, order, shuffle partitioning) keys on — at 100 TB a 300x
# under-estimate on a skewed join turns into a broadcast OOM or a
# one-reducer straggler; per-key histograms are the defense.
# ---------------------------------------------------------------------------

_Q289_ORACLE = """
WITH sk AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN 0 ELSE event_id END AS skew_key,
         event_type
  FROM events
)
SELECT a.event_type AS etype_a, b.event_type AS etype_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM sk a JOIN sk b ON a.skew_key = b.skew_key
GROUP BY 1, 2
"""


def q289_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bare sentinel-skew self-join (no rollup), shared by the
    registered query and the plan-pin test — the node whose estimated
    cardinality the histogram must fix."""
    from pyspark.sql import functions as F

    (st,) = cbo_stats_tables(spark, sf_dir, sources=("events_anon",))
    a = spark.table(st).select("skew_key", F.col("event_type").alias("etype_a"))
    b = spark.table(st).select("skew_key", F.col("event_type").alias("etype_b"))
    return a.join(b, "skew_key")


@register(
    "q289_cbo_histogram_join_estimate",
    oracle=_Q289_ORACLE,
    tags=("optimizer", "cbo", "statistics", "histogram", "join"),
)
def q289_cbo_histogram_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.statistics.histogram.enabled": "true",
    }
    with conf_scope(spark, confs):
        df = (
            q289_join(spark, sf_dir)
            .groupBy("etype_a", "etype_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
        df._jdf.queryExecution().executedPlan()  # plan under active confs
    return df


# ---------------------------------------------------------------------------
# q263: lateral column aliases (Spark 3.4+) — a select item referencing
# an alias defined EARLIER IN THE SAME SELECT LIST (`base -> tax ->
# gross`, three levels chained), the warehouse-SQL idiom that otherwise
# forces a nested subquery per derived column. Like q242, the oracle is
# the IDENTICAL SQL text (DuckDB resolves lateral aliases the same
# way), proving verbatim drop-in parity. Catalyst inlines the aliases
# into ordinary projections — zero plan cost, no correlation, nothing
# blocks pushdown.
# Money determinism: DECIMAL chain end-to-end, one final DOUBLE cast.
# ---------------------------------------------------------------------------

_Q263_SQL = """
WITH priced AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,4)) AS base,
         CAST(base * CAST(0.10 AS DECIMAL(4,2)) AS DECIMAL(18,4)) AS tax,
         base + tax AS gross
  FROM orders
)
SELECT CASE WHEN gross >= 250000 THEN 'high'
            WHEN gross >= 120000 THEN 'mid'
            ELSE 'low' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(gross) AS DOUBLE) AS total_gross
FROM priced
GROUP BY 1
"""


@register("q263_lateral_column_alias", oracle=_Q263_SQL, tags=("sql-api", "lateral-alias"))
def q263_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_Q263_SQL)


# ---------------------------------------------------------------------------
# q269: SQL scripting (Spark 4.0, SQL/PSM-style compound statements) —
# BEGIN/DECLARE/WHILE/SET control flow executed server-side, the
# migration surface for stored-procedure-shaped analysis. The script
# does an iterative threshold search (smallest power-of-two price
# bound keeping >=90% of orders — the doubling probe a capacity
# planner scripts), then reports the bound and its coverage. Control
# flow runs on the driver but every statement inside is a full
# distributed query; the loop is O(log(max/min)) iterations.
# Oracle: the closed form of the same search (min k over a generated
# k-spine with the identical >= 0.9*n comparison in DOUBLE).
# Conf-scoped (session.conf_scope): spark.sql.scripting.enabled, restored
# after the script RUNS (scripting executes eagerly inside the
# builder; the returned frame is the script's final SELECT).
# ---------------------------------------------------------------------------

_Q269_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n_total FROM orders),
k AS (
  SELECT MIN(k) AS k
  FROM generate_series(0, 40) t(k), n
  WHERE (SELECT COUNT(*) FROM orders WHERE o_totalprice < power(2.0, k))
        >= 0.9 * n_total
)
SELECT CAST(power(2.0, k.k) AS DOUBLE) AS threshold,
       CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <
             power(2.0, k.k)) AS BIGINT) AS n_below,
       CAST(n.n_total AS BIGINT) AS n_total
FROM k, n
"""


@register("q269_sql_scripting", oracle=_Q269_ORACLE, tags=("sql-api", "scripting"))
def q269_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr DOUBLE DEFAULT 1.0;
              DECLARE n_total BIGINT DEFAULT 0;
              SET n_total = (SELECT COUNT(*) FROM orders);
              WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice < thr)
                    < 0.9 * n_total DO
                SET thr = thr * 2.0;
              END WHILE;
              SELECT CAST(thr AS DOUBLE) AS threshold,
                     CAST(COUNT(*) AS BIGINT) AS n_below,
                     CAST(n_total AS BIGINT) AS n_total
              FROM orders WHERE o_totalprice < thr;
            END
            """
        )


# ---------------------------------------------------------------------------
# q270: string collation (Spark 4.0) — GROUP BY under UTF8_LCASE merges
# case-variants ENGINE-side (ICU-backed), the declarative alternative
# to lower()-normalizing every call site, and the collation survives
# into joins/sorts wherever the collated type flows. The mixed-case
# input is synthesized deterministically (even keys UPPER, odd lower);
# the output key is the binary MIN of the variants (deterministic —
# collated GROUP BY returns an arbitrary representative, so the query
# never emits the raw grouping value). Oracle replays with lower()
# grouping, proving the collation's equivalence class IS
# case-insensitivity.
# ---------------------------------------------------------------------------

_Q270_ORACLE = """
SELECT MIN(pri_mixed) AS variant_seen,
       lower(MIN(pri_mixed)) AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
              ELSE lower(o_orderpriority) END AS pri_mixed
  FROM orders
)
GROUP BY lower(pri_mixed)
"""


@register("q270_collated_grouping", oracle=_Q270_ORACLE, tags=("sql-api", "collation"))
def q270_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT MIN(pri_mixed) AS variant_seen,
               lower(MIN(pri_mixed)) AS pri,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM (
          SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END AS pri_mixed
          FROM orders
        )
        GROUP BY pri_mixed COLLATE UTF8_LCASE
        """
    )


# ---------------------------------------------------------------------------
# q275: pandas API on Spark (pyspark.pandas) — the migration surface
# for pandas codebases: a ps.read_parquet → groupby → agg pipeline that
# COMPILES TO THE SAME CATALYST PLANS as the DataFrame API (no Python
# row boundary; to_spark() hands back the logical plan). The index type
# is pinned to 'distributed' — the default sequence index imposes a
# single-partition window over the whole table, the classic
# pandas-on-Spark scale trap. Aggregates are order-free (count/min/max)
# so the pandas layer adds zero determinism risk.
#
# DOCUMENTED ANTI-PATTERN (probed r7, deliberately NOT registered):
# ps rolling/expanding — `ps.DataFrame.rolling(n).sum()` etc. — plans
# an UNPARTITIONED row_number window over __natural_order__, i.e. the
# whole table through ONE task at any scale. It would need a
# registry-lint whitelist entry to even register, and unlike the
# calendar-bounded whitelist trio (q24/q93/q154) its input scales with
# the data. The engine's moving-window capability is q24/q37's
# partitioned RANGE frames; per-key sequential logic is q271's UDTF
# TABLE argument. Use those, never ps.rolling, on SF-scaling tables.
# ---------------------------------------------------------------------------

_Q275_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


@register("q275_pandas_api_on_spark", oracle=_Q275_ORACLE, tags=("pandas-api", "python-surface"))
def q275_pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pyspark.pandas as ps

    # pandas-on-Spark keeps its options in the session conf, under a
    # "pandas_on_Spark." prefix and JSON-encoded
    index_type = {"pandas_on_Spark.compute.default_index_type": '"distributed"'}
    with conf_scope(spark, index_type):
        pdf = ps.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        g = pdf.groupby("o_orderpriority").agg(
            n_orders=("o_orderkey", "count"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
        return g.reset_index().to_spark().select(
            "o_orderpriority",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "min_price",
            "max_price",
        )


# ---------------------------------------------------------------------------
# q276: DataFrame.transpose (Spark 4.0) — rows become columns keyed by
# the transpose column's values (the presentation flip BI exports do).
# Input is the deterministic 5-row priority aggregate, so the output is
# a fixed 1x5 matrix per metric row; transpose REQUIRES uniform value
# types (everything bigint here) and driver-side column naming from the
# key column — a small-aggregate-only operator by design (column count
# = row count; never transpose an SF-scaling relation). Oracle spells
# the flip with conditional aggregation.
# ---------------------------------------------------------------------------

_Q276_ORACLE = """
WITH c AS (
  SELECT CASE o_orderpriority
           WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
           WHEN '3-MEDIUM' THEN 'medium' WHEN '4-NOT SPECIFIED' THEN 'notspec'
           ELSE 'low' END AS pri,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT 'n_orders' AS key,
       CAST(SUM(CASE WHEN pri = 'urgent' THEN n END) AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN pri = 'high' THEN n END) AS BIGINT) AS high,
       CAST(SUM(CASE WHEN pri = 'medium' THEN n END) AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN pri = 'notspec' THEN n END) AS BIGINT) AS notspec,
       CAST(SUM(CASE WHEN pri = 'low' THEN n END) AS BIGINT) AS low
FROM c
"""


@register("q276_dataframe_transpose", oracle=_Q276_ORACLE, tags=("dataframe-api", "transpose"))
def q276_dataframe_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    pri = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", "notspec")
        .otherwise("low")
    )
    agg = (
        o.groupBy(pri.alias("pri"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("pri")
    )
    return agg.transpose("pri").select(
        "key", "urgent", "high", "medium", "notspec", "low"
    )


# ---------------------------------------------------------------------------
# q277: SELECT * EXCEPT (...) — projection-by-exclusion (SQL:2023
# direction, every modern warehouse has it): keep everything but the
# wide/payload columns. The anti-pattern it prevents at 100 TB is the
# opposite one — a migrator hand-listing columns, missing one, and
# silently shipping a wrong schema; EXCEPT keeps the projection tied to
# the table's actual schema. Column pruning still reaches the scan (the
# excluded column never leaves the reader). Oracle enumerates the
# complement explicitly.
# ---------------------------------------------------------------------------

_Q277_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
FROM orders
WHERE o_orderkey % 1000 = 0
"""


@register("q277_select_star_except", oracle=_Q277_ORACLE, tags=("sql-api", "projection"))
def q277_select_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT * EXCEPT (o_totalprice, o_orderdate)
        FROM orders
        WHERE o_orderkey % 1000 = 0
        """
    )


# ---------------------------------------------------------------------------
# q293/q294/q295: the AQE trio — RUNTIME re-planning pinned as
# first-class rows, symmetric with the CBO quartet (q262 strategy /
# q281 order / q284 selectivity / q289 join cardinality, all driven by
# STATIC stats). CBO fixes the plan before execution from ANALYZE'd
# statistics; AQE fixes it DURING execution from the actual shuffle
# bytes — the two halves of Catalyst's cost story, and the reference's
# own session knobs (`spark_jobs/reporting.py:12-14`: adaptive.enabled,
# coalescePartitions, skewJoin) elevated from "config we set" to
# behavior the driver gate verifies:
#
#   q293 — runtime SMJ→BHJ switch: static planning cannot size an
#          aggregate's output (no group count without CBO stats), so a
#          join against a 5-row aggregated dim plans as a shuffle join;
#          after the dim side's shuffle MATERIALIZES at a few hundred
#          bytes, AQE re-plans the remaining stages as a broadcast
#          join. At 100 TB this is the safety net for every
#          "join-to-small-rollup" in the gold layer: nobody has to
#          guess the rollup's size in advance, and a rollup that ISN'T
#          small (q111's lesson) is measured, not assumed broadcastable.
#   q294 — runtime partition right-sizing: shuffle.partitions is only
#          an UPPER BOUND under coalescePartitions (session.py's
#          contract) — a 200-partition conf over a 7-group aggregate
#          coalesces to a handful of post-shuffle reader tasks instead
#          of launching 193 empty ones. The same conf then scales to a
#          1000-executor cluster where 200 partitions are real.
#   q295 — skew-join split: the no-code-change answer to hot keys (the
#          salted operators q36/q226 are the explicit answer): the hot
#          partition of a sort-merge join is split into multiple reader
#          tasks (skew=true in the final plan), rescuing the join from
#          one straggler task. Same synthetic one-hot-key shape as the
#          r3 lint test, now a driver-green row with a closed-form
#          range() oracle.
#
# AQE finalizes the plan during EXECUTION (unlike CBO's planning-time
# choices), so each builder runs its query to completion INSIDE the
# conf scope: AdaptiveSparkPlanExec caches the finalized plan on its
# QueryExecution, so the driver's later collect() re-executes the same
# final plan (isFinalPlan=true) under restored session confs. The
# companion plan pins live in tests/test_plans.py (before/after faces,
# the q262/q281 style).
# ---------------------------------------------------------------------------

_Q293_ORACLE = """
WITH mx AS (
  SELECT o_orderpriority, MAX(o_totalprice) AS prio_max
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o.o_totalprice * 2 > mx.prio_max THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above_half_max
FROM orders o JOIN mx ON o.o_orderpriority = mx.o_orderpriority
GROUP BY 1
"""


@register(
    "q293_aqe_runtime_broadcast",
    oracle=_Q293_ORACLE,
    tags=("optimizer", "aqe", "join"),
)
def q293_aqe_runtime_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to their own per-priority MAX rollup (5 rows at any
    SF — priority is a bounded domain), counting orders above half the
    class maximum. o_totalprice*2 keeps the threshold comparison in
    exact DECIMAL arithmetic in both engines. Static broadcast is OFF
    (-1) and the adaptive threshold ON, so the ONLY way the final plan
    is a BroadcastHashJoin is AQE measuring the materialized dim side —
    which tests/test_plans.py pins (and pins the SMJ 'before' face with
    the adaptive threshold off too)."""
    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    with conf_scope(spark, confs):
        dim = orders.groupBy("o_orderpriority").agg(
            F.max("o_totalprice").alias("prio_max")
        )
        df = (
            orders.join(dim, "o_orderpriority")
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    (F.col("o_totalprice") * 2 > F.col("prio_max")).cast("long")
                ).alias("n_above_half_max"),
            )
        )
        df.collect()  # AQE finalizes during execution, not at planning
    return df


_Q294_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


@register(
    "q294_aqe_partition_coalesce",
    oracle=_Q294_ORACLE,
    tags=("optimizer", "aqe", "aggregate"),
)
def q294_aqe_partition_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 7-group aggregate deliberately run under a 200-partition
    shuffle conf: AQE's coalescePartitions folds the post-shuffle side
    down to a handful of reader tasks (pinned in tests/test_plans.py via
    AQEShuffleRead/coalesced + the final partition count), so the conf
    can be sized for the CLUSTER's biggest shuffle and small stages
    still don't pay 193 empty tasks. min/max over the double column are
    exact picks (no float-fold ordering hazard)."""
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "200"}):
        df = events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        df.collect()  # finalize the adaptive plan under the 200-part conf
    return df


_Q295_ORACLE = """
WITH hot AS (SELECT 99 AS k, range AS v FROM range(200000)),
     uni AS (SELECT range % 32 AS k, range AS v FROM range(3200)),
     big AS (SELECT * FROM hot UNION ALL SELECT * FROM uni),
     dim AS (SELECT range AS k, range * 10 AS p FROM range(100))
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(p) AS BIGINT) AS sp,
       CAST(SUM(v) AS BIGINT) AS sv
FROM big JOIN dim ON big.k = dim.k
"""


@register(
    "q295_aqe_skew_split",
    oracle=_Q295_ORACLE,
    tags=("optimizer", "aqe", "skew", "join"),
)
def q295_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One dominant key (99) carrying 200k of 203.2k rows through a
    sort-merge join under test-sized skew thresholds; the global agg is
    deliberate — a downstream groupBy(k) would require hash
    distribution on k and AQE (correctly) refuses to split a partition
    that must stay co-located. sum(v) keeps a wide column through the
    shuffle so the hot partition's BYTES actually dominate (pruned
    constant keys compress below any threshold). skew=true in the final
    plan is pinned in tests/test_plans.py."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        hot = spark.range(200_000).select(
            F.lit(99).alias("k"), F.col("id").alias("v")
        )
        uniform = spark.range(3_200).select(
            (F.col("id") % 32).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("p")
        )
        df = hot.union(uniform).join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p").alias("sp"),
            F.sum("v").alias("sv"),
        )
        df.collect()  # finalize the adaptive plan under the skew confs
    return df


# ---------------------------------------------------------------------------
# q299: the CBO x AQE INTERPLAY — the row that closes the cost story as
# a matrix instead of two parallel lists. The same join-to-rollup shape
# (q293's: orders joined to its 5-row per-priority MAX aggregate) is run
# twice and the two (initial, final) join strategies are emitted as
# data:
#   leg 1, no stats: the static planner cannot size an aggregate's
#     output, so the initial plan is a SortMergeJoin and AQE's runtime
#     measurement rescues it to a BroadcastHashJoin (q293's switch).
#   leg 2, ANALYZE'd stats + CBO: BasicStatsPlanVisitor propagates the
#     5-row group count through the Aggregate, so the INITIAL plan is
#     already a BroadcastHashJoin — nothing left for AQE to fix.
# Static statistics and runtime re-planning are complements: ANALYZE
# what you curate, let AQE cover what you can't — at 100 TB that means
# stats on curated gold/dim tables buy right-first-time plans (no wasted
# first shuffle), while ad-hoc shapes still get the runtime safety net.
# Probed + plan-pinned first in tests/test_plans.py::
# test_cbo_stats_make_q293s_runtime_rescue_unnecessary (r9); registered
# here as driver-green evidence (VERDICT r9 item 6). The strategy
# strings are deterministic engine behavior replayed by the oracle as
# literals (q158/q97 calibration-gate shape); n_orders/n_priorities are
# real aggregates from the executed joins, so values are checked too.
# ---------------------------------------------------------------------------

_Q299_ORACLE = """
WITH t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
  FROM orders
)
SELECT 'no_stats_aqe_rescue' AS scenario,
       'SortMergeJoin' AS initial_join,
       'BroadcastHashJoin' AS final_join,
       n_orders, n_priorities
FROM t
UNION ALL
SELECT 'cbo_stats_static' AS scenario,
       'BroadcastHashJoin' AS initial_join,
       'BroadcastHashJoin' AS final_join,
       n_orders, n_priorities
FROM t
"""


def _join_strategy_of(face: str) -> str:
    """Which join operator a rendered plan face carries (exactly one of
    the three shuffle-family strategies appears in this shape)."""
    for kind in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        if kind in face:
            return kind
    return "none"


@register(
    "q299_aqe_cbo_interplay",
    oracle=_Q299_ORACLE,
    tags=("optimizer", "aqe", "cbo", "statistics", "join"),
)
def q299_aqe_cbo_interplay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    rows = []

    def run(scenario: str, orders, confs: dict[str, str]) -> None:
        with conf_scope(spark, confs):
            dim = orders.groupBy("o_orderpriority").agg(
                F.max("o_totalprice").alias("prio_max")
            )
            df = (
                orders.join(dim, "o_orderpriority")
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            got = df.collect()  # AQE finalizes during execution
            plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
            final_face, _, initial_face = plan.partition("== Initial Plan ==")
            rows.append(
                (
                    scenario,
                    _join_strategy_of(initial_face),
                    _join_strategy_of(final_face),
                    sum(r["n"] for r in got),
                    len(got),
                )
            )

    # leg 1: plain parquet, no stats, static broadcast off — only AQE's
    # runtime measurement of the materialized dim side can broadcast
    run(
        "no_stats_aqe_rescue",
        load_table(spark, sf_dir, "orders"),
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
        },
    )
    # leg 2: ANALYZE'd external table under CBO — the propagated 5-row
    # group count (~185 B) clears the SAME 1MB cap on both thresholds,
    # so the static choice is right before a single byte shuffles
    (ot,) = cbo_stats_tables(spark, sf_dir, sources=("orders",))
    run(
        "cbo_stats_static",
        spark.table(ot),
        {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "1MB",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "1MB",
        },
    )
    return spark.createDataFrame(
        rows,
        "scenario string, initial_join string, final_join string, "
        "n_orders bigint, n_priorities bigint",
    )


# ---------------------------------------------------------------------------
# q300: EXECUTE IMMEDIATE (Spark 4.0, SQL/PSM dynamic SQL) — the fourth
# leg of the parameterized-SQL story (q227 spark.sql args, q243
# IDENTIFIER(), q248 session variables, q269 scripting): a SQL string
# executed server-side with USING parameter binding and INTO variable
# capture, the stored-procedure migration surface that otherwise forces
# driver-side string formatting (injection) or client round-trips. The
# two-step shape is the common one: capture a data-derived scalar INTO
# a session variable (MAX is an exact decimal pick — no rounding
# hazard), then bind it as a positional ? parameter of the main
# statement. Bound parameters constant-fold like q227's, so pushdown is
# unaffected. Probed Spark 4.1.2 (2026-08-15): both positional (?) and
# named (:x) USING forms plus INTO work on this build.
# ---------------------------------------------------------------------------

_Q300_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,4)) * 2 >
                          (SELECT MAX(CAST(o_totalprice AS DECIMAL(18,4)))
                           FROM orders)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_half_max,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
"""


@register(
    "q300_execute_immediate",
    oracle=_Q300_ORACLE,
    tags=("sql-api", "dynamic-sql", "variables"),
)
def q300_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE q300_max DECIMAL(18,4)")
    spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT MAX(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders' "
        "INTO q300_max"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority AS priority,
                CAST(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,4)) * 2 > ?
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_above_half_max,
                COUNT(*) AS n_orders
         FROM orders GROUP BY 1'
        USING q300_max
        """
    )


# ---------------------------------------------------------------------------
# q301: DEFAULT column values (Spark 3.4+ DDL) — declared defaults on an
# external parquet table, filled two ways: an INSERT naming only a
# column subset (the unnamed columns take their defaults — the ingest
# shape where upstream feeds omit bookkeeping fields) and an explicit
# DEFAULT keyword in VALUES. The intake-table pattern this encodes: at
# 100 TB the alternative is a COALESCE() sprayed across every consumer
# query forever; a declared default normalizes once, at write time, in
# the table contract. Defaults are resolved at INSERT (stored in the
# data), not at read — so existing files never rewrite and the scan
# stays plain parquet. Probed Spark 4.1.2 (2026-08-15) on v1 external
# parquet tables.
# ---------------------------------------------------------------------------

_Q301_ORACLE = """
SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'pending' ELSE 'expedited' END
         AS status,
       'web' AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderkey % 10 IN (0, 3)
GROUP BY 1, 2
UNION ALL
SELECT 'pending', 'store', 1, 0.0
"""


@register(
    "q301_default_columns",
    oracle=_Q301_ORACLE,
    tags=("ddl", "defaults", "sql-api"),
)
def q301_default_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    register_views(spark, sf_dir, names=("orders",))
    loc = scratch_path("sql", f"defaults_tbl_{sf_key(sf_dir)}")
    shutil.rmtree(loc, ignore_errors=True)  # fresh, deterministic content
    spark.sql("DROP TABLE IF EXISTS q301_intake")
    spark.sql(
        f"""
        CREATE TABLE q301_intake (
          o_orderkey BIGINT,
          o_totalprice DECIMAL(18,4),
          status STRING DEFAULT 'pending',
          channel STRING DEFAULT 'web'
        ) USING PARQUET LOCATION '{loc}'
        """
    )
    # feed 1 omits the bookkeeping columns entirely: defaults fill both
    spark.sql(
        """
        INSERT INTO q301_intake (o_orderkey, o_totalprice)
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4))
        FROM orders WHERE o_orderkey % 10 = 0
        """
    )
    # feed 2 sets status explicitly; channel still defaults
    spark.sql(
        """
        INSERT INTO q301_intake (o_orderkey, o_totalprice, status)
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)), 'expedited'
        FROM orders WHERE o_orderkey % 10 = 3
        """
    )
    # the explicit DEFAULT keyword face (per-position opt-in)
    spark.sql(
        "INSERT INTO q301_intake VALUES "
        "(-1, CAST(0.0 AS DECIMAL(18,4)), DEFAULT, 'store')"
    )
    return spark.sql(
        """
        SELECT status, channel,
               COUNT(*) AS n_rows,
               CAST(SUM(o_totalprice) AS DOUBLE) AS total_price
        FROM q301_intake
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# q302: DataFrame lateralJoin API (Spark 4.0) — q222's correlated
# LATERAL subquery, expressed programmatically: the right side
# references the left row's column via Column.outer() and carries its
# own ORDER BY ... LIMIT, so "top-3 per outer row" composes without
# leaving the DataFrame API (previously SQL-string-only). Catalyst
# decorrelates it into the same rank-per-group plan q222's SQL gets —
# same total-order tiebreak (c_acctbal DESC, c_name), same oracle
# shape. Probed Spark 4.1.2 (2026-08-15).
# ---------------------------------------------------------------------------

_Q302_ORACLE = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 3) t
"""


@register(
    "q302_lateral_join_api",
    oracle=_Q302_ORACLE,
    tags=("dataframe-api", "lateral", "topk"),
)
def q302_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    top3 = (
        customer.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_name")
        .limit(3)
        .select("c_name", "c_acctbal")
    )
    return nation.lateralJoin(top3).select("n_name", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# q305: SQL TABLE function (Spark 4.0 — CREATE FUNCTION ... RETURNS
# TABLE) — the table-valued complement to q196's scalar SQL UDF: a
# row-generating function defined IN SQL, planned by Catalyst like a
# view-with-parameters (no Python boundary, unlike the UDTF family
# q107/q244/q271/q303), usable standalone or LATERAL-correlated. Here
# an equal-width tier generator laterally joined to orders buckets
# every order into its price tier — the parameterized-dimension idiom
# (calendars, tiers, grids) that otherwise gets materialized as a
# physical table per parameter choice. Gotcha probed on 4.1.2:
# range(n) inside the body rejects non-foldable parameter args
# (NON_FOLDABLE_ARGUMENT) — explode(sequence(0, n-1)) accepts them.
# Bounds are exact double multiples of 200000, so the oracle replays
# the bucketing as floor division (boundary-safe: decimal(18,4) inputs
# are >=1e-4 away from any multiple, far above double ulp).
# ---------------------------------------------------------------------------

_Q305_ORACLE = """
SELECT CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 200000) AS INT) AS tier,
       CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 200000) * 200000 AS DOUBLE)
         AS lo_bound,
       CAST((FLOOR(CAST(o_totalprice AS DOUBLE) / 200000) + 1) * 200000
            AS DOUBLE) AS hi_bound,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2, 3
"""


@register(
    "q305_sql_table_function",
    oracle=_Q305_ORACLE,
    tags=("sql-api", "table-function", "lateral"),
)
def q305_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q305_tiers(
          lo DOUBLE, hi DOUBLE, n INT)
        RETURNS TABLE (tier INT, lo_bound DOUBLE, hi_bound DOUBLE)
        RETURN SELECT CAST(id AS INT) AS tier,
                      lo + (hi - lo) * id / n AS lo_bound,
                      lo + (hi - lo) * (id + 1) / n AS hi_bound
               FROM (SELECT explode(sequence(0, n - 1)) AS id)
        """
    )
    return spark.sql(
        """
        SELECT p.tier, p.lo_bound, p.hi_bound,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM orders,
        LATERAL q305_tiers(CAST(0 AS DOUBLE), CAST(1000000 AS DOUBLE), 5) p
        WHERE CAST(o_totalprice AS DOUBLE) >= p.lo_bound
          AND CAST(o_totalprice AS DOUBLE) < p.hi_bound
        GROUP BY 1, 2, 3
        """
    )


# ---------------------------------------------------------------------------
# q309: dynamic partition pruning — the RUNTIME partition-skipping leg
# of the optimizer story (CBO quartet q262/q281/q284/q289 = static
# stats; AQE trio q293/q294/q295 = runtime shuffle stats; q309/q310 =
# runtime FILTER propagation). A fact table laid out by year (the q145
# partition-layout idiom) joined to a filtered dim on the partition
# column: Spark plans a dynamicpruning subquery that executes the dim
# side FIRST and feeds the surviving years into the fact scan's
# partition filter, so only matching directories are listed and read.
# The reference re-reads its whole fact table for every report
# (`spark_jobs/reporting.py:25-38`); at 100 TB with a 7-year layout
# and a 4-year dim filter, DPP is the difference between scanning 7
# years and 4 — before a single task runs. The plan face (a
# dynamicpruning expression inside the scan's PartitionFilters) is
# pinned in tests/test_plans.py::test_q309_plan_has_dynamic_pruning;
# the values are plain SQL (the dim's surviving years replayed as a
# WHERE ... IN over year(o_orderdate)).
#
# Fixture: orders partitioned by o_year in the scratch space, written
# once per process like every other derived fixture.
# ---------------------------------------------------------------------------

_Q309_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE year(o_orderdate) IN (1995, 1997, 1999, 2001)
GROUP BY 1
"""


def _dpp_fact_dir(spark: SparkSession, sf_dir: str) -> str:
    """Orders partitioned by o_year, written once per process."""
    return built_once(
        "dpp",
        sf_key(sf_dir),
        "orders_by_year",
        build=lambda d: spark.read.parquet(table_path(sf_dir, "orders"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(d),
    )


@register(
    "q309_dynamic_partition_pruning",
    oracle=_Q309_ORACLE,
    tags=("optimizer", "dpp", "partitioning", "runtime-filter"),
)
def q309_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.compat import dsum

    fact = spark.read.parquet(_dpp_fact_dir(spark, sf_dir))
    # Dim: the year spine with a selective attribute — only ODD years
    # survive its filter. spark.range keeps the dim independent of the
    # fact (DPP needs a genuinely separate build side); the oracle
    # replays the surviving years literally.
    dim = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("d_year"),
        (F.col("id") % 2 == 1).alias("is_odd"),
    )
    with conf_scope(spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "true"}):
        df = (
            fact.join(
                dim.filter(F.col("is_odd")),
                fact["o_year"] == dim["d_year"],
            )
            .groupBy(F.col("o_year").cast("int").alias("o_year"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", "revenue"),
            )
        )
        df.collect()  # the pruning decision happens at runtime; execute
        # inside the conf scope so the cached result reuses it (q293 rule)
    return df


# ---------------------------------------------------------------------------
# q310: runtime bloom-filter join pruning — the ROW-level sibling of
# q309's partition-level runtime filter (and the built-in form of
# q118's explicit bucket-set semi-join reduction): a selective filter
# on the orders side of a shuffle join makes Spark build a
# bloom_filter_agg over the surviving join keys and inject
# might_contain(...) onto the lineitem side BEFORE its shuffle, so
# non-matching probe rows are dropped at the scan instead of being
# exchanged. At 100 TB this cuts the big side's shuffle by ~the
# filter's selectivity (here ~1/5: one of five priorities) — the
# no-code-change version of the semi-join prefilter SCALING.md
# documents. Plan faces (bloom_filter_agg on the build side,
# might_contain on the probe side) pinned in
# tests/test_plans.py::test_q310_plan_has_runtime_bloom_filter; values
# are plain SQL (the join itself — the bloom filter is semantics-free,
# false positives only pass extra rows to the exact join).
#
# Conf note (probed on this 4.1.2 build, 2026-08-16): the rewrite is
# gated on creation-side size <= creationSideThreshold AND
# application-side scan >= applicationSideScanSizeThreshold; prod
# defaults (10MB/10GB) only fire at real-table sizes, so the builder
# scopes test-scale thresholds exactly like the r3 plan pin.
# ---------------------------------------------------------------------------

_Q310_ORACLE = """
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
"""


@register(
    "q310_runtime_bloom_filter",
    oracle=_Q310_ORACLE,
    tags=("optimizer", "bloom", "runtime-filter", "join"),
)
def q310_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..functions.compat import dsum

    confs = {
        # force the shuffle join (a broadcast join gets no bloom filter
        # — the build side already ships whole) ...
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # ... and test-scale thresholds (prod defaults need real sizes)
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with conf_scope(spark, confs):
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        df = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum("l_quantity", "total_qty"),
                dsum("l_extendedprice", "revenue"),
            )
        )
        df.collect()  # execute inside the conf scope (q293 rule)
    return df


# ---------------------------------------------------------------------------
# q318: aggregate FILTER clause (SQL:2003 T612) — per-aggregate
# predicates in ONE scan/shuffle, the idiom that replaces N filtered
# self-joins or a CASE-WHEN pyramid in every KPI rollup: four
# aggregates over four different row subsets (plain count, value
# threshold, year slice with exact decimal money, filtered DISTINCT)
# computed in a single Aggregate. The reference computes each
# conditional metric as its own filtered DataFrame + join
# (`spark_jobs/reporting.py:276-304` shape); at 100 TB this row is the
# one-pass replacement. Oracle = the IDENTICAL SQL text (the q242
# GROUP BY ALL convention — both engines parse the same standard
# clause), so the parity claim is about the CLAUSE, not a translation.
# ---------------------------------------------------------------------------

_Q318_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
         AS n_big,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
              FILTER (WHERE year(o_orderdate) = 1995) AS DOUBLE) AS rev_1995,
       CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
            AS BIGINT) AS n_f_custs
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "q318_aggregate_filter_clause",
    oracle=_Q318_SQL,
    tags=("sql-api", "aggregate", "filter-clause"),
)
def q318_aggregate_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_Q318_SQL)


# ---------------------------------------------------------------------------
# q319: percentile_cont WITHIN GROUP — the INTERPOLATING inverse-
# distribution function, completing q255's family (percentile_disc =
# pick an existing row; cont = linear interpolation between the two
# bracketing order statistics). Both engines implement the same R-7
# interpolation (lo + frac * (hi - lo) at rank p*(n-1)); the operands
# here are money doubles whose interpolation at .5/.9 lands on exact
# binary midpoints or row values, and round6 absorbs the last-ulp
# hazard (the established convention for computed doubles). Scale:
# exact percentiles sort within each group partition — for fact-scale
# groups swap to approx_percentile with a gate (q177's calibration,
# the documented SCALING.md quantile swap).
# ---------------------------------------------------------------------------

_Q319_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90
FROM orders
GROUP BY 1
"""


@register(
    "q319_percentile_cont",
    oracle=_Q319_ORACLE,
    tags=("sql-api", "percentile", "within-group"),
)
def q319_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
                 AS p50,
               round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 6)
                 AS p90
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q320: ANSI day-time INTERVAL arithmetic — the typed-interval surface
# (Spark 3.2+ DayTimeIntervalType) exercised end to end: timestamp
# subtraction producing a true INTERVAL column, interval ORDERING
# (min/max are interval comparisons, not pre-converted integers),
# interval SCALING (* 2), interval→number conversion (CAST to BIGINT
# = total seconds for DAY TO SECOND intervals), and field EXTRACTion
# (extract(DAY FROM ...)). Gotcha probed on this 4.1.2 build: interval
# / interval division raises DATATYPE_MISMATCH (the divisor must be
# numeric) — CAST is the sanctioned total-unit conversion. The
# reference handles date math with raw datediff-style arithmetic; the
# typed interval is how Spark carries SLA/lag semantics through a plan
# without unit-confusion bugs. Oracle: DuckDB interval subtraction +
# epoch() seconds, same min/max/scale algebra.
# ---------------------------------------------------------------------------

_Q320_ORACLE = """
WITH d AS (
  SELECT o.o_orderpriority,
         l.l_shipdate - o.o_orderdate AS delay
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(epoch(MIN(delay)) AS BIGINT) AS min_delay_sec,
       CAST(epoch(MAX(delay)) AS BIGINT) AS max_delay_sec,
       CAST(epoch(MAX(delay * 2)) AS BIGINT) AS max_doubled_sec,
       CAST(date_part('day', MAX(delay)) AS BIGINT) AS max_delay_days
FROM d
GROUP BY 1
"""


@register(
    "q320_interval_arithmetic",
    oracle=_Q320_ORACLE,
    tags=("sql-api", "interval", "types"),
)
def q320_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(
        """
        WITH d AS (
          SELECT o.o_orderpriority,
                 l.l_shipdate - o.o_orderdate AS delay
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(MIN(delay) AS BIGINT) AS min_delay_sec,
               CAST(MAX(delay) AS BIGINT) AS max_delay_sec,
               CAST(MAX(delay * 2) AS BIGINT) AS max_doubled_sec,
               CAST(extract(DAY FROM MAX(delay)) AS BIGINT)
                 AS max_delay_days
        FROM d
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q326: correlated SCALAR subqueries (TPC-H Q17 shape) — the remaining
# subquery face (q13/q14 semi/anti EXISTS, q222/q302 LATERAL, q112
# EXISTS-agg): a per-row scalar whose subquery references the outer
# row, here TWICE — "small-quantity" lineitems are those below half
# their part's average quantity, stated as two correlated scalars
# (per-part COUNT and per-part SUM) so the comparison runs in EXACT
# decimal/integer arithmetic (qty * 2 * cnt < sum ⇔ qty < avg/2 with
# no double-division boundary — an avg-as-double threshold could flip
# on summation-order ulps between engines).
#
# Catalyst decorrelates both scalars into per-part aggregates joined
# back (RewriteCorrelatedScalarSubquery): the executed plan carries
# TWO joins and ZERO per-row subquery executions — pinned in
# tests/test_plans.py::test_q326_decorrelates_scalar_subqueries. At
# 100 TB that rewrite is the difference between one aggregate pass
# over lineitem and |lineitem| point lookups. Oracle = the identical
# SQL text (the q242/q318 convention — the claim is the standard
# construct, not a translation).
# ---------------------------------------------------------------------------

_Q326_SQL = """
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l
WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 2 *
      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,4))) FROM lineitem l3
         WHERE l3.l_partkey = l.l_partkey)
GROUP BY 1
"""


@register(
    "q326_correlated_scalar_subquery",
    oracle=_Q326_SQL,
    tags=("sql-api", "subquery", "decorrelation"),
)
def q326_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(_Q326_SQL)


# ---------------------------------------------------------------------------
# q327: ANSI overflow + the try_* family — the arithmetic-safety
# contract this engine runs under (session.py enables ANSI; q251
# covers try_divide's div-by-zero face; this row pins the OVERFLOW
# face): BIGINT amounts seeded near Long.MAX so that (a) plain SUM
# RAISES ARITHMETIC_OVERFLOW (pinned in tests/test_plans.py::
# test_q327_plain_sum_overflow_raises — silent wraparound is the
# pre-ANSI behavior this engine refuses), (b) try_sum / per-row
# try_multiply return NULL instead (the dead-letter-friendly face for
# pipelines that must not abort on one poisoned partition), and
# (c) the CORRECT fix — widen to DECIMAL(38,0) BEFORE aggregating —
# yields the exact 20-digit total, value-matched against DuckDB's
# HUGEINT sum as a string. At 100 TB the lesson is (c): overflow
# guards are not a substitute for choosing a wide-enough accumulator
# up front; try_* exists for the boundary where input is untrusted.
# ---------------------------------------------------------------------------

_Q327_BIG = 4_000_000_000_000_000_000  # 3 of these overflow signed 64-bit

_Q327_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       TRUE AS try_sum_is_null,
       CAST(COUNT(*) AS BIGINT) AS n_mult_null,
       CAST(SUM(CAST({_Q327_BIG} + o_orderkey AS HUGEINT)) AS VARCHAR)
         AS exact_total
FROM orders
GROUP BY 1
"""


@register(
    "q327_ansi_overflow_semantics",
    oracle=_Q327_ORACLE,
    tags=("sql-api", "ansi", "overflow", "try-functions"),
)
def q327_ansi_overflow_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               try_sum(CAST({_Q327_BIG} AS BIGINT) + o_orderkey) IS NULL
                 AS try_sum_is_null,
               CAST(SUM(CASE WHEN try_multiply(
                      CAST({_Q327_BIG} AS BIGINT) + o_orderkey,
                      CAST(3 AS BIGINT)) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mult_null,
               CAST(SUM(CAST(CAST({_Q327_BIG} AS BIGINT) + o_orderkey
                             AS DECIMAL(38,0))) AS STRING) AS exact_total
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q336: INSERT ... BY NAME — the schema-evolution-safe ingestion verb
# (Spark 3.5+, SPARK-42750) completing the q301 DEFAULT-columns story:
# positional INSERT silently transposes values when an upstream SELECT
# reorders its projection; BY NAME matches on column NAME instead, and
# columns the feed omits fall back to their DEFAULTs — together these
# are what lets a long-lived intake table absorb producer refactors
# without a coordinated deploy. Three faces in one row: a feed whose
# projection order is deliberately SHUFFLED vs the table (BY NAME must
# un-transpose it), a feed missing two columns (DEFAULT + NULL fill),
# and the q301-style positional feed as the control group.
# ---------------------------------------------------------------------------

_Q336_ORACLE = """
WITH f1 AS (
  SELECT p_partkey, p_brand, CAST(p_retailprice AS DECIMAL(18,4)) AS price,
         'shuffled' AS origin
  FROM part WHERE p_partkey % 3 = 0
),
f2 AS (
  SELECT p_partkey, p_brand, CAST(NULL AS DECIMAL(18,4)) AS price,
         'bulk' AS origin
  FROM part WHERE p_partkey % 3 = 1
),
f3 AS (
  SELECT p_partkey, p_brand, CAST(p_retailprice AS DECIMAL(18,4)) AS price,
         'positional' AS origin
  FROM part WHERE p_partkey % 3 = 2
),
allf AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
SELECT origin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(price) AS BIGINT) AS n_priced,
       CAST(SUM(price) AS DOUBLE) AS total_price,
       MIN(p_brand) AS min_brand
FROM allf
GROUP BY origin
"""


@register(
    "q336_insert_by_name",
    oracle=_Q336_ORACLE,
    tags=("sql", "ddl", "evolution"),
)
def q336_insert_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    register_views(spark, sf_dir, names=("part",))
    loc = scratch_path("sql", f"byname_tbl_{sf_key(sf_dir)}")
    shutil.rmtree(loc, ignore_errors=True)  # fresh, deterministic content
    spark.sql("DROP TABLE IF EXISTS q336_intake")
    spark.sql(
        f"""
        CREATE TABLE q336_intake (
          p_partkey BIGINT,
          p_brand STRING,
          price DECIMAL(18,4),
          origin STRING DEFAULT 'bulk'
        ) USING PARQUET LOCATION '{loc}'
        """
    )
    # face 1: producer reordered its projection — BY NAME un-transposes
    spark.sql(
        """
        INSERT INTO q336_intake BY NAME
        SELECT 'shuffled' AS origin,
               CAST(p_retailprice AS DECIMAL(18,4)) AS price,
               p_partkey, p_brand
        FROM part WHERE p_partkey % 3 = 0
        """
    )
    # face 2: feed omits price (-> NULL) and origin (-> DEFAULT 'bulk')
    spark.sql(
        """
        INSERT INTO q336_intake BY NAME
        SELECT p_brand, p_partkey FROM part WHERE p_partkey % 3 = 1
        """
    )
    # face 3 (control): ordinary positional insert
    spark.sql(
        """
        INSERT INTO q336_intake
        SELECT p_partkey, p_brand, CAST(p_retailprice AS DECIMAL(18,4)),
               'positional'
        FROM part WHERE p_partkey % 3 = 2
        """
    )
    return spark.sql(
        """
        SELECT origin,
               COUNT(*) AS n_rows,
               COUNT(price) AS n_priced,
               CAST(SUM(price) AS DOUBLE) AS total_price,
               MIN(p_brand) AS min_brand
        FROM q336_intake
        GROUP BY origin
        """
    )


# ---------------------------------------------------------------------------
# q337: median() + deterministic mode() — the two direct aggregates
# Spark 3.4/4.0 added for what previously took percentile() gymnastics
# (q27/q319 cover the percentile family; q221 the weighted custom
# form). mode() is NONDETERMINISTIC on ties by default — exactly the
# first()/dropDuplicates class this repo bans — so this row pins the
# deterministic=true face (probed 4.1.2: ties resolve to the LOWEST
# value among the most frequent) and the oracle replays that tie rule
# explicitly with a count-then-rank subquery rather than trusting
# DuckDB's own mode() (whose tie behavior is first-seen, i.e. also
# nondeterministic across engines). median() is interpolated (R-7,
# same as percentile(0.5)) in both engines; round(6) shared.
# ---------------------------------------------------------------------------

_Q337_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(user_id % 5 AS BIGINT) AS bucket, value
  FROM events
),
freq AS (
  SELECT event_type, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
),
modes AS (
  SELECT event_type, bucket AS mode_bucket FROM (
    SELECT event_type, bucket,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt DESC, bucket) AS rn
    FROM freq
  ) WHERE rn = 1
),
med AS (
  SELECT event_type, round(median(value), 6) AS median_value,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM b GROUP BY 1
)
SELECT med.event_type, med.n_events, med.median_value, modes.mode_bucket
FROM med JOIN modes USING (event_type)
"""


@register(
    "q337_median_mode",
    oracle=_Q337_ORACLE,
    tags=("aggregate", "sql"),
)
def q337_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("events",))
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_events,
               round(median(value), 6) AS median_value,
               mode(user_id % 5, true) AS mode_bucket
        FROM events
        GROUP BY event_type
        """
    )


# ---------------------------------------------------------------------------
# q340: OFFSET pagination vs KEYSET pagination — both faces of "give
# me page 3", with the equivalence PROVED in the result. LIMIT/OFFSET
# (Spark 3.4+) is the API-pagination shape everyone writes first; at
# scale it is scan-and-discard — the sort must still produce the
# skipped 100 rows, and page N costs O(N*page) (Spark plans it as
# GlobalLimitAndOffset over the sort). Keyset (a.k.a. seek) pagination
# carries the last row of the previous page as a boundary and turns
# the skip into a PREDICATE — pushable, index/zorder-friendly
# (q145/q147's layouts make it a file-skip), constant cost per page.
# The row emits page 3 via KEYSET, with a flag column proving it
# byte-equals the OFFSET form (exceptAll both directions == empty,
# computed in-plan; no driver compare).
#
# Total order (o_totalprice DESC, o_orderkey ASC) — the unique-key
# tiebreaker is what makes BOTH forms deterministic AND is a keyset
# REQUIREMENT (a boundary on a non-unique sort key alone would drop or
# duplicate ties across the page break).
# ---------------------------------------------------------------------------

_Q340_PAGE = 50

_Q340_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_totalprice, TRUE AS keyset_matches_offset
FROM ranked
WHERE rn > 2 * {_Q340_PAGE} AND rn <= 3 * {_Q340_PAGE}
"""


@register(
    "q340_keyset_pagination",
    oracle=_Q340_ORACLE,
    tags=("sql", "pagination", "topk"),
)
def q340_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    page = _Q340_PAGE
    offset_page = spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT {page} OFFSET {2 * page}
        """
    )
    # keyset boundary: the LAST row of page 2
    boundary = spark.sql(
        f"""
        SELECT o_totalprice AS bp, o_orderkey AS bk FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 1 OFFSET {2 * page - 1}
        """
    )
    keyset_page = (
        spark.table("orders")
        .crossJoin(F.broadcast(boundary))
        .filter(
            (F.col("o_totalprice") < F.col("bp"))
            | (
                (F.col("o_totalprice") == F.col("bp"))
                & (F.col("o_orderkey") > F.col("bk"))
            )
        )
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(page)
    )
    # in-plan equivalence proof: multiset-equal in both directions
    diff = keyset_page.exceptAll(offset_page).unionAll(
        offset_page.exceptAll(keyset_page)
    )
    flag = diff.agg((F.count(F.lit(1)) == 0).alias("keyset_matches_offset"))
    return keyset_page.crossJoin(F.broadcast(flag))


# ---------------------------------------------------------------------------
# q341: INSERT OVERWRITE partition semantics, static vs dynamic — the
# reprocessing verb's two contracts on one partitioned table, and the
# one conf (spark.sql.sources.partitionOverwriteMode) whose default
# silently decides whether a backfill truncates the table:
#   * DYNAMIC mode, no partition spec: only partitions PRESENT IN THE
#     FEED are replaced (the q245 gold-rebuild contract — reprocess
#     two event types, the other three survive untouched);
#   * STATIC mode with an explicit PARTITION (k='v') spec: exactly
#     that partition is replaced regardless of mode — the targeted
#     repair verb.
# The final table is three writes layered (seed -> dynamic reprocess
# of click/view -> static repair of error), each tagged with its
# provenance, so the per-partition tag in the result PROVES which
# write owns which partition. Oracle: the layering replayed
# closed-form from events.
#
# Scale: partition-wise overwrite is the whole point — each write
# rewrites only its partitions' files; the survivors' files are never
# touched (same file-level economics as versioned.py's COW manifests,
# here via the native hive-layout writer).
# ---------------------------------------------------------------------------

_Q341_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
final AS (
  SELECT event_type, d, n,
         CASE WHEN event_type IN ('click', 'view') THEN 'dynamic_reprocess'
              WHEN event_type = 'error' THEN 'static_repair'
              ELSE 'seed' END AS written_by
  FROM daily
)
SELECT event_type, written_by,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM final
GROUP BY 1, 2
"""


@register(
    "q341_overwrite_partition_modes",
    oracle=_Q341_ORACLE,
    tags=("sql", "ddl", "partition", "ops"),
)
def q341_overwrite_partition_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    register_views(spark, sf_dir, names=("events",))
    loc = scratch_path("sql", f"overwrite_tbl_{sf_key(sf_dir)}")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS q341_daily")
    spark.sql(
        f"""
        CREATE TABLE q341_daily (d DATE, n BIGINT, written_by STRING)
        USING PARQUET PARTITIONED BY (event_type STRING)
        LOCATION '{loc}'
        """
    )
    daily = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n,
               '{tag}' AS written_by, event_type
        FROM events {where}
        GROUP BY event_type, 1
    """
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    # write 1 (seed): dynamic is irrelevant — table is empty
    spark.sql(
        f"INSERT OVERWRITE q341_daily "
        + daily.format(tag="seed", where="")
    )
    # write 2: DYNAMIC, no partition spec — only click/view replaced
    with conf_scope(spark, {mode_key: "dynamic"}):
        spark.sql(
            f"INSERT OVERWRITE q341_daily "
            + daily.format(
                tag="dynamic_reprocess",
                where="WHERE event_type IN ('click', 'view')",
            )
        )
    # write 3: STATIC + explicit spec — exactly the error partition
    with conf_scope(spark, {mode_key: "static"}):
        spark.sql(
            "INSERT OVERWRITE q341_daily PARTITION (event_type = 'error') "
            + """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n,
                   'static_repair' AS written_by
            FROM events WHERE event_type = 'error'
            GROUP BY 1
            """
        )
    return spark.sql(
        """
        SELECT event_type, written_by,
               COUNT(*) AS n_days, SUM(n) AS n_events
        FROM q341_daily
        GROUP BY event_type, written_by
        """
    )


# ---------------------------------------------------------------------------
# q345: try_cast vs ANSI CAST — the untrusted-string-ingest contrast
# row (TODO r11 scouted item; completes the try_* family: q251 covers
# try_divide's div-by-zero face, q327 try_sum/try_multiply's overflow
# face, this row the PARSE face). The engine runs ANSI mode, where
# CAST('N/A' AS BIGINT) RAISES CAST_INVALID_INPUT (pinned in
# tests/test_plans.py::test_q345_ansi_cast_raises — silently returning
# NULL is the pre-ANSI behavior this engine refuses); ingest of dirty
# third-party feeds therefore goes through try_cast (NULL on malformed)
# plus try_to_number for the currency-formatted face ('$'-prefixed,
# format '$999999999999' — Spark parses it, and the oracle replays the
# RULE itself: strip '$' then TRY_CAST, so a Spark format-semantics
# regression would hash-mismatch rather than tautologically agree).
#
# Dirty strings are synthesized deterministically from o_orderkey %% 7
# (q139's synthesize-then-process pattern: both engines replay the
# construction so the parsers face real malformed input at every SF):
# 0 -> 'N/A' (unparseable), 1 -> '$<custkey>' (currency), 2 ->
# '<custkey>x' (trailing junk), else clean digits. INTEGER source
# values only — float-to-string formatting is engine-specific, integer
# formatting is not.
#
# Scale: one narrow projection + one bounded groupBy; try_* are plain
# codegen expressions (no UDF, no exception-driven control flow — the
# null path is branch-level, which is why try_cast beats a Python
# parse-and-catch by orders of magnitude at corpus scale).
# ---------------------------------------------------------------------------

_Q345_ORACLE = """
WITH src AS (
  SELECT o_orderpriority,
         CASE CAST(o_orderkey % 7 AS INT)
           WHEN 0 THEN 'N/A'
           WHEN 1 THEN '$' || CAST(o_custkey AS VARCHAR)
           WHEN 2 THEN CAST(o_custkey AS VARCHAR) || 'x'
           ELSE CAST(o_custkey AS VARCHAR)
         END AS s
  FROM orders
),
parsed AS (
  SELECT o_orderpriority,
         TRY_CAST(s AS BIGINT) AS direct,
         CASE WHEN s LIKE '$%' THEN TRY_CAST(substr(s, 2) AS BIGINT) END
           AS currency
  FROM src
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(direct) AS BIGINT) AS n_direct,
       CAST(COUNT(currency) AS BIGINT) AS n_currency,
       CAST(COUNT(*) - COUNT(COALESCE(direct, currency)) AS BIGINT)
         AS n_rejected,
       CAST(SUM(COALESCE(direct, currency)) AS BIGINT) AS sum_parsed
FROM parsed
GROUP BY o_orderpriority
"""


@register(
    "q345_try_cast_contrast",
    oracle=_Q345_ORACLE,
    tags=("sql", "ansi", "ingest"),
)
def q345_try_cast_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        WITH src AS (
          SELECT o_orderpriority,
                 CASE CAST(o_orderkey % 7 AS INT)
                   WHEN 0 THEN 'N/A'
                   WHEN 1 THEN concat('$', CAST(o_custkey AS STRING))
                   WHEN 2 THEN concat(CAST(o_custkey AS STRING), 'x')
                   ELSE CAST(o_custkey AS STRING)
                 END AS s
          FROM orders
        ),
        parsed AS (
          SELECT o_orderpriority,
                 try_cast(s AS BIGINT) AS direct,
                 CAST(try_to_number(s, '$999999999999') AS BIGINT) AS currency
          FROM src
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_rows,
               COUNT(direct) AS n_direct,
               COUNT(currency) AS n_currency,
               COUNT(*) - COUNT(COALESCE(direct, currency)) AS n_rejected,
               SUM(COALESCE(direct, currency)) AS sum_parsed
        FROM parsed
        GROUP BY o_orderpriority
        """
    )
