"""Event-stream queries in batch form (SURVEY.md §2.9 batch parity bar).

Tumbling-window aggregation, pivoted breakdowns and JSON-ish props
extraction over the ``events`` table. The streaming twins live in
``streaming/jobs.py``; these batch forms define the semantics the stream
must reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.compat import dsum
from ..registry import register

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# ---------------------------------------------------------------------------
# q30: hourly tumbling window per event type. Spark's window() is epoch-
# aligned (UTC session tz) == date_trunc('hour').
# ---------------------------------------------------------------------------

_Q30_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("q30_events_hourly", oracle=_Q30_ORACLE, tags=("events", "window-agg"))
def q30_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q31: daily pivot — one column per event type (explicit value list so the
# output schema is static; pivot+coalesce(0) == conditional-count columns).
# ---------------------------------------------------------------------------

_Q31_ORACLE = """
SELECT CAST(ts AS DATE) AS d,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
"""


@register("q31_events_daily_pivot", oracle=_Q31_ORACLE, tags=("events", "pivot"))
def q31_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    for t in EVENT_TYPES:
        pivoted = pivoted.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return pivoted


# ---------------------------------------------------------------------------
# q32: regexp capture-group extraction from the JSON-ish props column +
# bucketed agg (P6-style regexp + A-agg).
# ---------------------------------------------------------------------------

_Q32_ORACLE = """
SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


@register("q32_events_props_extract", oracle=_Q32_ORACLE, tags=("events", "regexp"))
def q32_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# q33: per-user event sequencing — lag/lead over user timelines: time since
# previous event and whether the type changed (session-ish prelude; the
# stateful streaming twin is in streaming/jobs.py).
# ---------------------------------------------------------------------------

_Q33_ORACLE = """
SELECT user_id,
       event_id,
       event_type,
       CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS BIGINT) AS ms_since_prev,
       lag(event_type) OVER w AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("q33_user_event_seq", oracle=_Q33_ORACLE, tags=("events", "window"))
def q33_user_event_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        (
            (F.unix_millis("ts") - F.unix_millis(prev_ts)).cast("bigint")
        ).alias("ms_since_prev"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


# ---------------------------------------------------------------------------
# q34: as-of join — each click enriched with the user's most recent
# purchase at that moment (operators/asof.py; DuckDB ASOF JOIN oracle).
# Timestamps are compared as epoch millis so both engines order on the
# exact same integers (events carry nanosecond precision at rest).
# ---------------------------------------------------------------------------

_Q34_ORACLE = """
WITH c AS (
  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS last_purchase_ms,
         value AS last_purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id, c.t_ms, p.last_purchase_ms, p.last_purchase_value
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.t_ms >= p.last_purchase_ms
"""


@register("q34_asof_last_purchase", oracle=_Q34_ORACLE, tags=("events", "asof", "join"))
def q34_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.unix_millis("ts").alias("t_ms")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis("ts").alias("t_ms"),
        F.unix_millis("ts").alias("last_purchase_ms"),
        F.col("value").alias("last_purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="t_ms",
        right_ts="t_ms",
        payload=["last_purchase_ms", "last_purchase_value"],
    ).select("user_id", "event_id", "t_ms", "last_purchase_ms", "last_purchase_value")


# ---------------------------------------------------------------------------
# q35: tagged union (§2.7 UNION ALL) + per-source daily counts.
# ---------------------------------------------------------------------------

_Q35_ORACLE = """
SELECT src, d, COUNT(*) AS n
FROM (
  SELECT 'big_purchase' AS src, CAST(ts AS DATE) AS d FROM events
  WHERE event_type = 'purchase' AND value > 30
  UNION ALL
  SELECT 'error' AS src, CAST(ts AS DATE) AS d FROM events
  WHERE event_type = 'error'
)
GROUP BY src, d
"""


@register("q35_union_daily_sources", oracle=_Q35_ORACLE, tags=("setop", "events"))
def q35_union_daily_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    big = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 30)).select(
        F.lit("big_purchase").alias("src"), F.col("ts").cast("date").alias("d")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.lit("error").alias("src"), F.col("ts").cast("date").alias("d")
    )
    return big.unionByName(err).groupBy("src", "d").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# q62: range (theta) join — events banded into value tiers by
# BETWEEN-join against a tier table. The broadcast makes the non-equi
# condition a per-row scan of a tiny table (never a shuffled theta
# join); the oracle inlines the identical tier rows as VALUES.
# ---------------------------------------------------------------------------

_TIERS = (
    ("free", 0.0, 10.0),
    ("basic", 10.0, 25.0),
    ("plus", 25.0, 40.0),
    ("premium", 40.0, 1e9),
)

_Q62_ORACLE = f"""
WITH tiers(tier, lo, hi) AS (
  VALUES {", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)}
)
SELECT t.tier,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e
JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier
"""


@register("q62_range_join_tiers", oracle=_Q62_ORACLE, tags=("join", "range", "events"))
def q62_range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(t, lo, hi) for t, lo, hi in _TIERS], ["tier", "lo", "hi"]
    )
    return (
        ev.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# q28: event funnel — signup → first view after signup → first purchase
# after that view. The staged conditional-min chain (agg → join →
# filtered agg) is the canonical product-analytics shape; each stage
# shrinks the key set, so the joins get cheaper as the funnel deepens.
# ---------------------------------------------------------------------------

_Q28_ORACLE = """
WITH su AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
vw AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t1
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) >= su.t0
  GROUP BY e.user_id
),
py AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
  FROM events e JOIN vw ON e.user_id = vw.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= vw.t1
  GROUP BY e.user_id
)
SELECT 1 AS stage_no, 'signup' AS stage, (SELECT COUNT(*) FROM su) AS n_users
UNION ALL
SELECT 2, 'view_after_signup', (SELECT COUNT(*) FROM vw)
UNION ALL
SELECT 3, 'purchase_after_view', (SELECT COUNT(*) FROM py)
"""


@register("q28_event_funnel", oracle=_Q28_ORACLE, tags=("events", "funnel", "join", "agg"))
def q28_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    vw = (
        ev.filter(F.col("event_type") == "view")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    py = (
        ev.filter(F.col("event_type") == "purchase")
        .join(vw, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage(1, "signup", su)
        .unionAll(stage(2, "view_after_signup", vw))
        .unionAll(stage(3, "purchase_after_view", py))
    )


# ---------------------------------------------------------------------------
# q37: SLIDING windows (1h length, 30min hop) — each event lands in two
# overlapping windows. Spark expands via its window() generator; the
# oracle replays the expansion with unnest of the two candidate starts.
# Streaming twin: the same expression under readStream (hourly_agg shape);
# batch parity pins the semantics.
# ---------------------------------------------------------------------------

_Q37_ORACLE = """
SELECT ws AS win_start, event_type, COUNT(*) AS n_events
FROM (
  SELECT unnest([
           time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
           time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
             - INTERVAL '30 minutes'
         ]) AS ws,
         CAST(ts AS TIMESTAMP) AS ts,
         event_type
  FROM events
)
WHERE ts >= ws AND ts < ws + INTERVAL '60 minutes'
GROUP BY 1, 2
"""


@register("q37_sliding_windows", oracle=_Q37_ORACLE, tags=("events", "window-agg", "sliding"))
def q37_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


# ---------------------------------------------------------------------------
# q36: skew-safe two-phase salted aggregation (operators/skew.py). The
# oracle is the PLAIN group-by — salting is a physical rewrite and must
# not change a single value. The spreader is the unique event_id, so the
# salt (and therefore the whole plan) is deterministic.
# ---------------------------------------------------------------------------

_Q36_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       MIN(event_type) AS first_type,
       MAX(event_type) AS last_type
FROM events
GROUP BY user_id
"""


@register("q36_salted_user_agg", oracle=_Q36_ORACLE, tags=("agg", "skew", "events"))
def q36_salted_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.compat import dmoney
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn("__v", dmoney("value"))
    out = salted_agg(
        ev,
        keys=["user_id"],
        aggs={
            "n_events": ("event_id", "count"),
            "total_value": ("__v", "sum"),
            "first_type": ("event_type", "min"),
            "last_type": ("event_type", "max"),
        },
        spreader=["event_id"],
        n_salts=16,
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


# ---------------------------------------------------------------------------
# q64: weekday x hour activity heatmap + IsWeekend classification — the
# reference's dim_date/dim_time breakdown semantics (reporting.py:84-87
# weekend flag, Readme.md:166-167 daily/hourly patterns) as one
# aggregation. Convention note pinned by the oracle: Spark dayofweek is
# 1=Sunday..7, DuckDB dayofweek is 0=Sunday..6 (+1 aligns them).
# ---------------------------------------------------------------------------

_Q64_ORACLE = """
SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS weekday,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour_of_day,
       dayofweek(CAST(ts AS TIMESTAMP)) + 1 IN (1, 7) AS is_weekend,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register("q64_weekday_hour_heatmap", oracle=_Q64_ORACLE, tags=("events", "datetime", "agg", "bi"))
def q64_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wd = F.dayofweek("ts")
    return (
        ev.groupBy(
            wd.alias("weekday"),
            F.hour("ts").cast("int").alias("hour_of_day"),
            wd.isin(1, 7).alias("is_weekend"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# q65: unpivot (wide -> long) — the inverse of q31's pivot: per-day
# event-type columns melted back to (d, event_type, n) rows. Spark's
# unpivot == DuckDB's UNPIVOT; dropping the zero-count cells makes the
# round trip exactly the long-form GROUP BY.
# ---------------------------------------------------------------------------

_Q65_ORACLE = """
SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


@register("q65_unpivot_daily", oracle=_Q65_ORACLE, tags=("events", "unpivot", "reshape"))
def q65_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q31_events_daily_pivot(spark, sf_dir)
    return (
        wide.unpivot("d", list(EVENT_TYPES), "event_type", "n")
        .filter(F.col("n") > 0)
        .select("d", "event_type", F.col("n").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# q70: JSON -> MapType -> explode — the semi-structured column path
# (from_json into map<string,int>, keys exploded and aggregated). The
# oracle walks the same objects with DuckDB's json_each. q32 regexes the
# same column; this is the typed route a real pipeline takes.
# ---------------------------------------------------------------------------

# (this DuckDB build ships without the json extension, so the oracle
# replays the parse with regexes — exact for the single-pair objects in
# the events data; the Spark side stays on the typed from_json route)
_Q70_ORACLE = r"""
SELECT regexp_extract(props, '"(\w+)":', 1) AS prop_key,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(regexp_extract(props, ':\s*(\d+)', 1) AS INT)) AS BIGINT) AS total_value,
       CAST(MIN(CAST(regexp_extract(props, ':\s*(\d+)', 1) AS INT)) AS INT) AS min_value,
       CAST(MAX(CAST(regexp_extract(props, ':\s*(\d+)', 1) AS INT)) AS INT) AS max_value
FROM events
GROUP BY 1
"""


@register("q70_json_props_map", oracle=_Q70_ORACLE, tags=("events", "json", "map-type"))
def q70_json_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    kv = ev.select(F.explode(m).alias("prop_key", "v"))
    return kv.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("bigint").alias("total_value"),
        F.min("v").cast("int").alias("min_value"),
        F.max("v").cast("int").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# q73: value-position windows — first_value / nth_value / last_value
# over per-user timelines. last_value uses an explicit full-partition
# frame (the default running frame makes it just "current row", the
# classic trap); aggregated per user so the output is compact.
# ---------------------------------------------------------------------------

_Q73_ORACLE = """
SELECT user_id, first_type, second_type, final_type, n_events
FROM (
  SELECT user_id,
         first_value(event_type) OVER w AS first_type,
         nth_value(event_type, 2) OVER w AS second_type,
         last_value(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS final_type,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
)
WHERE rn = 1
"""


@register("q73_value_position_windows", oracle=_Q73_ORACLE, tags=("events", "window", "nth-value"))
def q73_value_position_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w_full).alias("first_type"),
            F.nth_value("event_type", 2).over(w_full).alias("second_type"),
            F.last("event_type").over(w_full).alias("final_type"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
            F.row_number().over(w_run).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# q94: higher-order MAP functions. The reference has no map/array types
# at all (SURVEY.md §1); at training-corpus scale per-entity feature
# maps (event_type -> count) are the natural pre-aggregated shape, and
# the map stays JVM-side the whole way: map_from_entries ->
# map_filter -> transform_values -> explode, all whole-stage-codegen
# expressions, no UDF. The oracle states the same result relationally
# (GROUP BY + HAVING + arithmetic), which is exactly the point of the
# differential test: the map round-trip must be semantically free.
# ---------------------------------------------------------------------------

_Q94_ORACLE = """
SELECT user_id, event_type,
       n_type_events,
       n_type_events * 10 + length(event_type) AS score,
       CAST(COUNT(*) OVER (PARTITION BY user_id) AS INT) AS n_kept_types
FROM (
  SELECT user_id, event_type, COUNT(*) AS n_type_events
  FROM events
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
"""


@register("q94_map_ops", oracle=_Q94_ORACLE, tags=("events", "map-type", "higher-order"))
def q94_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m")
    )
    kept = maps.select(
        "user_id",
        F.map_filter("m", lambda _k, v: v >= 3).alias("m"),
    ).filter(F.size("m") > 0)
    scored = kept.select(
        "user_id",
        F.size("m").cast("int").alias("n_kept_types"),
        F.transform_values("m", lambda k, v: F.struct(v.alias("n"), (v * 10 + F.length(k)).alias("s"))).alias("m"),
    )
    return scored.select(
        "user_id",
        F.explode("m").alias("event_type", "v"),
        "n_kept_types",
    ).select(
        "user_id",
        "event_type",
        F.col("v.n").alias("n_type_events"),
        F.col("v.s").alias("score"),
        "n_kept_types",
    )


# ---------------------------------------------------------------------------
# q97: approximate distinct (HyperLogLog++). SURVEY.md §2.4 A8 names
# approx_count_distinct as the scale path for "distinct city count"-style
# KPIs: exact COUNT(DISTINCT) shuffles every distinct value, HLL ships a
# fixed few-KB sketch per partition regardless of cardinality — at 100 TB
# that is the difference between a full shuffle and a metadata exchange.
# The raw estimate is engine-specific (DuckDB's HLL differs), so —
# q158's calibration-gate precedent, VERDICT r5 item 4 — the query
# computes BOTH the daily-active-users estimate (rsd=0.01) and the
# exact count, and emits the exact counts plus a within-3% gate verdict
# the oracle replays as TRUE. Deterministic, not flaky: Spark's HLL is
# a pure function of the data, and measured per-day error on this data
# is <=0.8% at every sf (3% gate = ~4x slack). The estimate path is
# genuinely exercised; a broken sketch flips the gate and fails the
# hash compare.
# ---------------------------------------------------------------------------

_Q97_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS within_3pct
FROM events
GROUP BY 1
"""


@register("q97_approx_distinct_users", oracle=_Q97_ORACLE, tags=("events", "approx", "sketch"))
def q97_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("__approx"),
    )
    gate = (
        F.abs(F.col("__approx") - F.col("n_users_exact"))
        / F.col("n_users_exact")
        <= F.lit(0.03)
    )
    return agg.select(
        "event_date", "n_events", "n_users_exact", gate.alias("within_3pct")
    )


# ---------------------------------------------------------------------------
# q106: Spark 4 VARIANT ingestion of semi-structured props — the
# schema-on-read path for JSON event payloads. q32 regex-extracts and
# q70 converts to a typed map; VARIANT is the modern third way: parse
# once into the binary variant encoding, extract typed values by path
# at query time (no schema declaration, no per-field regex). The
# extraction stays JVM-side (variant_get is a codegen expression);
# DuckDB replays it with its JSON extraction.
# ---------------------------------------------------------------------------

_Q106_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(props::JSON ->> 'k' AS BIGINT)) AS min_k,
       MAX(CAST(props::JSON ->> 'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@register("q106_variant_props", oracle=_Q106_ORACLE, tags=("events", "variant", "semi-structured"))
def q106_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# q113: SESSIONIZED funnel — q28 measured user-lifetime progression;
# this measures progression WITHIN a single session (gap = 30 min,
# q54's exact sessionization semantics): view → click after that view →
# purchase after that click, in time order inside the session. Funnel
# depth per session (0-3), rolled up to sessions/users per depth — the
# standard product-analytics conversion table. Plan shape: one window
# pass assigns session ids (same shuffle as q54), then each stage is an
# agg + join on (user_id, session_seq) whose key set SHRINKS as the
# funnel deepens, so the joins get cheaper stage by stage; all stage
# relations are session-grained (small vs events), broadcast-eligible
# under AQE.
# ---------------------------------------------------------------------------

_Q113_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   - CAST(floor(epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) AS BIGINT)
                   > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT *, CAST(SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS session_seq
  FROM seq
),
s1 AS (
  SELECT user_id, session_seq, MIN(ts) AS t1
  FROM ids WHERE event_type = 'view' GROUP BY 1, 2
),
s2 AS (
  SELECT i.user_id, i.session_seq, MIN(i.ts) AS t2
  FROM ids i JOIN s1 ON i.user_id = s1.user_id AND i.session_seq = s1.session_seq
  WHERE i.event_type = 'click' AND i.ts >= s1.t1
  GROUP BY 1, 2
),
s3 AS (
  SELECT i.user_id, i.session_seq, MIN(i.ts) AS t3
  FROM ids i JOIN s2 ON i.user_id = s2.user_id AND i.session_seq = s2.session_seq
  WHERE i.event_type = 'purchase' AND i.ts >= s2.t2
  GROUP BY 1, 2
),
sess AS (SELECT DISTINCT user_id, session_seq FROM ids),
depths AS (
  SELECT s.user_id, s.session_seq,
         CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                   WHEN s2.t2 IS NOT NULL THEN 2
                   WHEN s1.t1 IS NOT NULL THEN 1
                   ELSE 0 END AS INT) AS depth
  FROM sess s
  LEFT JOIN s1 ON s.user_id = s1.user_id AND s.session_seq = s1.session_seq
  LEFT JOIN s2 ON s.user_id = s2.user_id AND s.session_seq = s2.session_seq
  LEFT JOIN s3 ON s.user_id = s3.user_id AND s.session_seq = s3.session_seq
)
SELECT depth,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT user_id) AS n_users
FROM depths
GROUP BY depth
"""


@register("q113_sessionized_funnel", oracle=_Q113_ORACLE, tags=("events", "funnel", "sessionize"))
def q113_sessionized_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ids = ev.withColumn("__new", new_s).withColumn(
        "session_seq",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    key = ["user_id", "session_seq"]
    s1 = (
        ids.filter(F.col("event_type") == "view")
        .groupBy(*key)
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ids.filter(F.col("event_type") == "click")
        .join(s1, key)
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ids.filter(F.col("event_type") == "purchase")
        .join(s2, key)
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t3"))
    )
    sess = ids.select(*key).distinct()
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return (
        sess.join(s1, key, "left")
        .join(s2, key, "left")
        .join(s3, key, "left")
        .select(*key, depth.alias("depth"))
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# q179: last-touch revenue attribution — each purchase's value is
# credited to the most recent non-purchase event type in the SAME
# 30-minute session (the standard marketing-attribution model; q113
# measures funnel depth, q169 its speed, this one its credit). The
# carry is last(non-purchase type, ignorenulls) over a per-(user,
# session) running window — one pass, no self-join; purchases with no
# preceding touch in their session credit 'direct'. Session islands use
# the microsecond-exact gap convention (q165). Value sums ride exact
# decimals so credit totals are order-independent.
# ---------------------------------------------------------------------------

_Q179_ORACLE = """
WITH g AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   <= 1800 * 1000000
              THEN 0 ELSE 1 END AS ns
  FROM events
),
s AS (
  SELECT user_id, event_type, ts, event_id, value,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
t AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id, sid ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS touch
  FROM s
)
SELECT COALESCE(touch, 'direct') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
         AS attributed_value
FROM t WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("q179_attribution_last_touch", oracle=_Q179_ORACLE, tags=("events", "sessionize", "bi"))
def q179_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn(
        "ns",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
            <= 1800 * 1_000_000,
            0,
        ).otherwise(1),
    ).withColumn(
        "sid", F.sum("ns").over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = (
        Window.partitionBy("user_id", "sid")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = s.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(ws),
    )
    return (
        t.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 6
            ).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# q180: big-big time-window join via bucket expansion — for every
# event, count same-user events in the preceding 60 seconds. The naive
# form is a range join (BroadcastNestedLoop or a per-user cross join);
# at 100 TB neither side is broadcastable, so the scale-safe rewrite
# buckets time into window-width buckets and EXPANDS the probe side to
# its two candidate buckets: the range join becomes an equi-join on
# (user, bucket) — an ordinary shuffle join AQE can size and skew-split
# — with the exact time predicate applied after. Each qualifying pair
# lands in exactly one probe bucket, so no dedup pass is needed (the
# build row's bucket is deterministic, and the probe covers it once).
# Cost: 2x probe duplication instead of an O(n_user^2) nested loop.
# ---------------------------------------------------------------------------

_Q180_WINDOW_US = 60 * 1_000_000

_Q180_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
)
SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.tus - b.tus > 0 AND a.tus - b.tus <= {_Q180_WINDOW_US}
GROUP BY 1
"""


@register("q180_interval_bucket_join", oracle=_Q180_ORACLE, tags=("join", "range", "events", "scale"))
def q180_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tus")
    )
    w = _Q180_WINDOW_US
    build = ev.select(
        "user_id",
        F.col("tus").alias("btus"),
        F.floor(F.col("tus") / w).alias("bk"),
    )
    probe = ev.select(
        "user_id",
        "tus",
        F.explode(
            F.array(F.floor(F.col("tus") / w) - 1, F.floor(F.col("tus") / w))
        ).alias("bk"),
    )
    pairs = probe.join(build, ["user_id", "bk"]).filter(
        (F.col("tus") - F.col("btus") > 0) & (F.col("tus") - F.col("btus") <= w)
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# q225: map-typed higher-order functions — the MapType API surface
# (map_from_entries / map_filter / map_keys / explode over maps) that
# feature-store rows actually use (a user's feature map travels as ONE
# column through serving). Per user: event-type counts collapse into a
# map, map_filter keeps the frequent entries (>= 5), and the map
# explodes back to rows for the value-exact compare. The map stays a
# column expression end to end — building it is one groupBy, never a
# driver-side dict.
# ---------------------------------------------------------------------------

_Q225_MIN = 5

_Q225_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
t AS (SELECT user_id, COUNT(*) AS n_types FROM c GROUP BY 1)
SELECT c.user_id,
       CAST(t.n_types AS INT) AS n_types,
       c.event_type,
       CAST(c.cnt AS BIGINT) AS cnt
FROM c JOIN t USING (user_id)
WHERE c.cnt >= {_Q225_MIN}
"""


@register("q225_map_feature_column", oracle=_Q225_ORACLE, tags=("events", "map", "hof"))
def q225_map_feature_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("fm")
    )
    filtered = m.select(
        "user_id",
        F.size(F.map_keys(F.col("fm"))).cast("int").alias("n_types"),
        F.map_filter("fm", lambda k, v: v >= _Q225_MIN).alias("freq"),
    )
    return filtered.select(
        "user_id", "n_types", F.explode("freq").alias("event_type", "cnt")
    ).select("user_id", "n_types", "event_type", F.col("cnt").cast("bigint").alias("cnt"))


# ---------------------------------------------------------------------------
# q237: forward as-of join — q34/q62 cover the backward ("most recent
# state") direction; this is pandas merge_asof(direction='forward'):
# every non-purchase event enriched with the value of the user's NEXT
# purchase at-or-after it — the "time to / value of next conversion"
# attachment. Same union+window composition (ONE shuffle on the key,
# no inequality-join crossproduct), carried over descending time so
# last(ignorenulls) holds the earliest eligible right row; ties at
# the exact timestamp are eligible, duplicate purchases at one
# timestamp resolve to the max value (the backward join's rule).
# ---------------------------------------------------------------------------

_Q237_ORACLE = """
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type <> 'purchase'
),
r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT l.event_id, r.value,
         row_number() OVER (
           PARTITION BY l.event_id
           ORDER BY r.ts, r.value DESC
         ) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts >= l.ts
)
SELECT event_id, value AS next_purchase_value
FROM j WHERE rn = 1
"""


@register("q237_asof_forward", oracle=_Q237_ORACLE, tags=("events", "asof", "join"))
def q237_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("next_purchase_value")
    )
    out = asof_join_forward(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["next_purchase_value"],
    )
    return out.select("event_id", "next_purchase_value")


# ---------------------------------------------------------------------------
# q251: error-safe arithmetic (try_divide) — the ANSI-mode migration
# surface. Spark 4 runs with spark.sql.ansi.enabled=true, where a plain
# division RAISES on a zero denominator; try_divide returns NULL
# instead — the per-row "no signal" semantics a funnel conversion rate
# wants (2389 of 4006 user-days here have zero views, 1047 of them with
# purchases, so the NULL path is heavily exercised, not a corner).
# DuckDB replays it with x / NULLIF(y, 0). The daily rollup keeps the
# compare compact; the double mean is round-6 after SUM/COUNT (q132's
# ulp-absorption precedent).
# ---------------------------------------------------------------------------

_Q251_ORACLE = """
WITH per_user_day AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS DATE) AS event_date,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views
  FROM events
  GROUP BY 1, 2
),
rated AS (
  SELECT event_date, purchases, views,
         purchases / NULLIF(views, 0) AS conv_rate
  FROM per_user_day
)
SELECT event_date,
       COUNT(*) AS n_user_days,
       COUNT(conv_rate) AS n_defined,
       COUNT(*) - COUNT(conv_rate) AS n_undefined,
       round(SUM(conv_rate) / COUNT(conv_rate), 6) AS avg_conv_rate
FROM rated
GROUP BY event_date
"""


@register("q251_try_safe_division", oracle=_Q251_ORACLE, tags=("events", "ansi", "try"))
def q251_try_safe_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_ud = ev.groupBy(
        "user_id", F.to_date("ts").alias("event_date")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
    )
    rated = per_ud.withColumn(
        "conv_rate", F.try_divide(F.col("purchases"), F.col("views"))
    )
    return rated.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.count("conv_rate").alias("n_defined"),
        (F.count(F.lit(1)) - F.count("conv_rate")).alias("n_undefined"),
        F.round(F.sum("conv_rate") / F.count("conv_rate"), 6).alias("avg_conv_rate"),
    )


# ---------------------------------------------------------------------------
# q304: variant_explode — schema DISCOVERY over heterogeneous variant
# payloads, the table-function face of the variant story (q106 is the
# typed-path face: variant_get when you know the path). Real mixed-
# payload feeds carry different shapes per event class, so the fixture
# builds one deterministically from real columns: even user_ids carry
# an OBJECT {"k": <props.k>, "t": "<event_type>"}, odd user_ids carry
# an ARRAY [k, k % 7]. variant_explode emits (pos, key, value) rows —
# key per object field, key NULL for array elements — and the rollup
# per discovered key (entry count + distinct stringified values) is
# the "what's actually inside this column" profile run before anyone
# writes a schema. The oracle replays by CONSTRUCTION (the payload is
# derived from typed columns, so no JSON parsing is needed on the
# DuckDB side). CAST(variant AS STRING) unquotes strings and renders
# ints bare — both match DuckDB's VARCHAR casts. Probed Spark 4.1.2
# (2026-08-15).
# ---------------------------------------------------------------------------

_Q304_ORACLE = """
WITH base AS (
  SELECT user_id, event_type, CAST(props::JSON ->> 'k' AS BIGINT) AS k
  FROM events
)
SELECT 'k' AS prop_key,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(COUNT(DISTINCT CAST(k AS VARCHAR)) AS BIGINT) AS n_values
FROM base WHERE user_id % 2 = 0
UNION ALL
SELECT 't',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT)
FROM base WHERE user_id % 2 = 0
UNION ALL
SELECT NULL,
       CAST(2 * COUNT(*) AS BIGINT),
       (SELECT CAST(COUNT(DISTINCT CAST(v AS VARCHAR)) AS BIGINT)
        FROM (SELECT k AS v FROM base WHERE user_id % 2 = 1
              UNION ALL
              SELECT k % 7 FROM base WHERE user_id % 2 = 1))
FROM base WHERE user_id % 2 = 1
"""


@register(
    "q304_variant_explode",
    oracle=_Q304_ORACLE,
    tags=("events", "variant", "semi-structured", "tvf"),
)
def q304_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    payload = F.when(
        F.col("user_id") % 2 == 0,
        F.format_string('{"k": %d, "t": "%s"}', k, F.col("event_type")),
    ).otherwise(F.format_string("[%d, %d]", k, k % 7))
    ev.select(F.parse_json(payload).alias("v")).createOrReplaceTempView(
        "__q304_payloads"
    )
    return spark.sql(
        """
        SELECT x.key AS prop_key,
               COUNT(*) AS n_entries,
               COUNT(DISTINCT CAST(x.value AS STRING)) AS n_values
        FROM __q304_payloads, LATERAL variant_explode(v) x
        GROUP BY 1
        """
    )


# ---------------------------------------------------------------------------
# q346: the map TRANSFORM family — transform_keys + map_zip_with, the
# two map higher-order functions q225/q263's entries-manipulation rows
# left uncovered (TODO r11 scouted item). The production shape is
# feature-map algebra: two per-entity maps built independently
# (event_type -> count, event_type -> integer cents total), POSITIONALLY
# merged by key with map_zip_with (struct values; both maps come from
# the same rows so the keysets match and no NULL branch fires),
# namespaced with transform_keys ('evt_' prefix — the collision guard
# when maps from different producers union into one feature column),
# then exploded back to rows for the rollup. Everything stays JVM-side
# map algebra (no UDF); the oracle replays the SEMANTICS relationally —
# DuckDB has no map_zip_with, so a plain GROUP BY over the same keys
# proves the map route loses/invents nothing.
#
# Scale: one groupBy(user bucket) with map-typed aggregates, one
# narrow map transform, one explode — same economics as q225.
# ---------------------------------------------------------------------------

_Q346_BUCKETS = 25

_Q346_ORACLE = f"""
SELECT user_id % {_Q346_BUCKETS} AS bucket,
       'evt_' || event_type AS feature,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY 1, 2
"""


@register(
    "q346_map_transform_family",
    oracle=_Q346_ORACLE,
    tags=("map", "functions", "events"),
)
def q346_map_transform_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % _Q346_BUCKETS).alias("bucket"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    per_type = e.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    maps = per_type.groupBy("bucket").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m_count"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("m_cents"),
    )
    merged = maps.select(
        "bucket",
        F.transform_keys(
            F.map_zip_with(
                "m_count",
                "m_cents",
                lambda _k, n, c: F.struct(n.alias("n"), c.alias("c")),
            ),
            lambda k, _v: F.concat(F.lit("evt_"), k),
        ).alias("m"),
    )
    ex = merged.select("bucket", F.explode("m").alias("feature", "v"))
    return ex.select(
        "bucket",
        "feature",
        F.col("v.n").cast("bigint").alias("n_events"),
        F.col("v.c").cast("bigint").alias("total_cents"),
    )
