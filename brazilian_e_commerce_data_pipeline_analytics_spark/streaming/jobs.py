"""Structured Streaming variants (SURVEY.md §2.9).

The reference's cadence is a 30-min full batch recompute
(``Dag/E-commerce_dag.py:88``); the streaming-native generalization is a
micro-batch pipeline: file source → event-time windowed aggregation →
sink, with watermarks bounding state. Batch parity is the correctness
bar: ``q53_stream_hourly`` runs a real streaming query (availableNow
trigger, complete mode, memory sink) and must produce exactly the batch
answer — which the DuckDB oracle then verifies value-for-value.

``sessionize_stateful`` is the custom stateful operator path
(``applyInPandasWithState``): event-time session windows with a gap
timeout, the canonical thing tumbling windows can't express.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..catalog import normalize_events_ts, parquet_schema, table_path
from ..functions.compat import dmoney
from ..llm.text import TOKENS_SQL, tokens
from ..registry import register
from ..scratch import built_once, fresh_dir, scratch_path, sf_key
from ..session import conf_scope

_COUNTER = itertools.count()


def hourly_agg(df: DataFrame) -> DataFrame:
    """The shared batch/stream aggregation: tumbling 1-hour event-time
    windows per event type (no distinct aggs — streaming-compatible)."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dmoney("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    spark: SparkSession, writer: DataStreamWriter, partitions: int = 8
) -> None:
    """Start ``writer`` with an availableNow trigger and wait until it
    has processed everything its sources hold.

    ``partitions`` sizes every shuffle of the run
    (``spark.sql.shuffle.partitions``, scoped by ``conf_scope``). The
    stream copies the session conf when it starts, so the width covers
    the whole micro-batch, ``foreachBatch`` bodies included (their joins,
    aggregations and writes), not only the stateful operators. Each
    shuffle partition of a stateful query is a state-store instance +
    (for pandas ops) a Python worker round, so local/test runs want few
    (measured 7x faster at 8 vs 32 on the sessionizer); a production
    stream sizes it to the cluster ONCE up front — it is frozen into the
    checkpoint at the first run and ignored on restarts."""
    with conf_scope(spark, {"spark.sql.shuffle.partitions": str(partitions)}):
        writer.trigger(availableNow=True).start().awaitTermination()


def run_stream_to_memory(
    spark: SparkSession, stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; returns the final result as a batch DataFrame."""
    name = f"stream_result_{next(_COUNTER)}"
    run_available_now(
        spark,
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode),
    )
    return spark.table(name)


_Q53_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("q53_stream_hourly", oracle=_Q53_ORACLE, tags=("streaming",))
def q53_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming micro-batch run with batch-parity output."""
    stream = _events_stream(spark, sf_dir)
    return run_stream_to_memory(spark, hourly_agg(stream))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    Spark's file stream source requires a *directory*, and the test data
    is a single parquet file — expose it through a scratch symlink dir.
    Also applies the TIMESTAMP(NANOS) -> microsecond conversion (see
    catalog.normalize_events_ts; the reader side is ``nanosAsLong`` in
    session.ENGINE_CONF).
    """
    path = table_path(sf_dir, "events")
    stream_dir = _linked_dir(f"events_{sf_key(sf_dir)}", path, ("events.parquet",))
    schema = parquet_schema(spark, path)
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    return normalize_events_ts(stream)


def _linked_dir(name: str, target: str, links: tuple[str, ...]) -> str:
    """A scratch stream dir holding one symlink to ``target`` per name
    in ``links``, rebuilt once per process."""
    target = os.path.abspath(target)

    def build(d: str) -> None:
        for link in links:
            os.symlink(target, os.path.join(d, link))

    return built_once("stream", name, build=build)


def batch_files(d: str, tables: Iterable, base: int) -> None:
    """Write ``batch_{i}.parquet`` for each pyarrow table, with mtime
    ``base + i``: the file source plans micro-batches in mtime order, so
    this fixes the batch order (one file per batch under
    maxFilesPerTrigger=1)."""
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))


def copy_batches(src: str, d: str, indices: Iterable[int], base: int) -> None:
    """Copy ``batch_{i}.parquet`` for each ``i`` in ``indices`` from a
    :func:`batch_files` dir ``src`` into ``d``, with the same mtime
    ``base + i`` (a copy gets a fresh mtime, which would reorder the
    micro-batches)."""
    os.makedirs(d, exist_ok=True)
    for i in indices:
        path = os.path.join(d, f"batch_{i}.parquet")
        shutil.copy(os.path.join(src, f"batch_{i}.parquet"), path)
        os.utime(path, (base + i, base + i))


def _batch_dir(name: str, tables: Callable[[], Iterable], base: int) -> str:
    """Scratch dir ``stream/<name>`` of :func:`batch_files` over
    ``tables()``, rebuilt once per process."""
    return built_once("stream", name, build=lambda d: batch_files(d, tables(), base))


def hourly_agg_watermarked(df: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Append-mode variant: watermark bounds state so late events beyond
    the horizon are dropped and closed windows are emitted exactly once.
    This is the 100-TB-stream shape — state size is O(open windows), not
    O(history)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )


# ---------------------------------------------------------------------------
# q54: batch sessionization (gap = 30 min) — the deterministic reference
# semantics for the stateful streaming twin q55. Gap arithmetic is in
# floor-seconds on both engines (Spark unix_timestamp truncates micros;
# DuckDB floor(epoch(...))).
# ---------------------------------------------------------------------------

_Q54_ORACLE = """
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
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_seq
  FROM seq
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types
FROM ids
GROUP BY user_id, session_seq
"""


@register("q54_sessions_batch", oracle=_Q54_ORACLE, tags=("sessionize", "window", "events"))
def q54_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start",
        "session_end",
        "n_events",
        "event_types",
    )


# ---------------------------------------------------------------------------
# q55: CUSTOM STATEFUL STREAMING OPERATOR with a SQL oracle. The
# applyInPandasWithState sessionizer emits a session only when a later
# event closes it, so with all data in one availableNow micro-batch the
# output is exactly "every session except each user's last" — which IS
# SQL-expressible, giving the stateful path a value-level oracle instead
# of the usual rows-only check. Timestamps are floor-second epochs (the
# operator's state keys are integer seconds).
# ---------------------------------------------------------------------------

_Q55_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, event_type,
         CAST(ts AS TIMESTAMP) AS ts,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   - CAST(floor(epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) AS BIGINT)
                   > 7200
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_seq
  FROM seq
),
sess AS (
  SELECT user_id, session_seq,
         MIN(ts_s) AS session_start_s,
         MAX(ts_s) AS session_end_s,
         COUNT(*) AS n_events,
         array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types
  FROM ids
  GROUP BY user_id, session_seq
)
SELECT user_id, session_start_s, session_end_s, n_events, event_types
FROM sess
WHERE session_seq < (SELECT MAX(s2.session_seq) FROM sess s2
                     WHERE s2.user_id = sess.user_id)
"""


@register(
    "q55_stream_sessions_closed",
    oracle=_Q55_ORACLE,
    tags=("streaming", "stateful", "sessionize"),
)
def q55_stream_sessions_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        spark, sessionize_stateful(stream, gap_minutes=120), output_mode="append"
    )
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").alias("session_start_s"),
        F.unix_timestamp("session_end").alias("session_end_s"),
        "n_events",
        "event_types",
    )


# ---------------------------------------------------------------------------
# q56: watermarked APPEND-mode stream. With one availableNow batch the
# final watermark is max(event time) - 2h and append emits exactly the
# windows whose end the watermark has passed — deterministic, so the
# late-data/eviction semantics get a value-level oracle too. Comparison
# is in epoch millis (watermark precision).
# ---------------------------------------------------------------------------

_Q56_ORACLE = """
WITH mx AS (SELECT MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events)
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       event_type,
       COUNT(*) AS n_events
FROM events, mx
GROUP BY 1, 2, mx.max_ms
HAVING epoch_ms(hour_start) + 3600000 <= mx.max_ms - 7200000
"""


@register(
    "q56_stream_hourly_append", oracle=_Q56_ORACLE, tags=("streaming", "watermark")
)
def q56_stream_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return run_stream_to_memory(
        spark, hourly_agg_watermarked(stream, "2 hours"), output_mode="append"
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
        StructField("n_events", LongType(), True),
        StructField("event_types", StringType(), True),
    ]
)


def sessionize_batch(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization via gap detection (window lag + cumulative
    session ids) — the deterministic reference semantics for the stateful
    streaming twin, and a useful operator in its own right.

    keyed_spread (opt r14, guide §2.5): the per-user window chain +
    session rollup is CPU-bound on narrow rows, so AQE's byte-based
    coalescing ran it near-serial at fixture scale; the explicit
    shuffle-width repartition on the window's own key replaces the
    window's exchange (user-specified counts are exempt from AQE
    coalescing) and the windows + the (user_id, session_seq) groupBy
    all reuse the partitioning — still exactly one exchange."""
    from pyspark.sql.window import Window

    from ..catalog import keyed_spread

    df = keyed_spread(df, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    with_ids = df.withColumn("__new", new_session).withColumn(
        "session_seq", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
        )
    )


def sessionize_stateful(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization with ``applyInPandasWithState``.

    Custom per-user session state with an event-time gap timeout; emits a
    row per closed session. Works on a streaming DataFrame grouped by
    user; state is one (start, end, count, types) tuple per open session.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60

    state_schema = StructType(
        [
            StructField("start_s", LongType()),
            StructField("end_s", LongType()),
            StructField("n", LongType()),
            StructField("types", StringType()),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        # Vectorized per-user sessionization: sort once, diff for gap
        # flags, cumsum for session ids — no per-row Python loop (the
        # only remaining loop is per *session*, a tiny count).
        import numpy as np

        (user_id,) = key
        events = pd.concat(list(pdf_iter))
        if events.empty:
            return
        events = events.sort_values(["ts", "event_id"])
        ts_s = events["ts"].astype("datetime64[s]").astype("int64").to_numpy()
        types_arr = events["event_type"].astype(str).to_numpy()
        if state.exists:
            st_start, st_end, st_n, st_types_str = state.get
            st_types = set(st_types_str.split(",")) if st_types_str else set()
        else:
            st_start, st_end, st_n, st_types = None, None, 0, set()

        prev = np.empty(len(ts_s), dtype="int64")
        prev[1:] = ts_s[:-1]
        prev[0] = st_end if st_end is not None else np.iinfo("int64").min // 2
        new_flag = (ts_s - prev) > gap_s

        rows = []
        if st_end is not None and new_flag[0]:
            # first incoming event does not continue the open session
            rows.append((user_id, st_start, st_end, st_n, ",".join(sorted(st_types))))
            st_start, st_end, st_n, st_types = None, None, 0, set()

        sid = np.cumsum(new_flag)
        sessions = []
        for s in np.unique(sid):
            mask = sid == s
            seg = ts_s[mask]
            sessions.append(
                [int(seg[0]), int(seg[-1]), int(mask.sum()), set(types_arr[mask])]
            )
        if st_end is not None:  # open session continues into sessions[0]
            sessions[0][0] = min(sessions[0][0], st_start)
            sessions[0][2] += st_n
            sessions[0][3] |= st_types
        rows.extend(
            (user_id, s0, s1, n, ",".join(sorted(tys)))
            for s0, s1, n, tys in sessions[:-1]
        )
        last = sessions[-1]
        state.update((last[0], last[1], last[2], ",".join(sorted(last[3]))))
        if rows:
            yield pd.DataFrame(
                [
                    (u, pd.Timestamp(a, unit="s"), pd.Timestamp(b, unit="s"), n, t)
                    for u, a, b, n, t in rows
                ],
                columns=["user_id", "session_start", "session_end", "n_events", "event_types"],
            )

    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# q60: Spark's NATIVE gap-based session operator (session_window) — the
# built-in counterpart to the hand-rolled q54/q55 sessionizers, usable
# identically in batch and streaming groupBy. Semantics probed and
# encoded in the oracle: events merge while the gap is <= 30 min at full
# microsecond precision; window end = last event + gap.
# ---------------------------------------------------------------------------

_Q60_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                   > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_seq
  FROM seq
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM ids
GROUP BY user_id, session_seq
"""


@register("q60_native_session_window", oracle=_Q60_ORACLE, tags=("sessionize", "window-agg", "events"))
def q60_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q71: STREAMING dedup — dropDuplicatesWithinWatermark over a source
# that delivers every event twice (at-least-once delivery simulated with
# two files of the same data). The watermark bounds dedup state to the
# 2h horizon instead of all history; the oracle is simply the 1x batch
# relation, proving exactly-once output from at-least-once input.
# ---------------------------------------------------------------------------

_Q71_ORACLE = """
SELECT event_id, event_type,
       CAST(value AS DOUBLE) AS value
FROM events
"""


@register("q71_stream_dedup", oracle=_Q71_ORACLE, tags=("streaming", "dedup", "watermark"))
def q71_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream dir with TWO links to the same file = duplicated delivery
    path = table_path(sf_dir, "events")
    dup_dir = _linked_dir(f"events_dup_{sf_key(sf_dir)}", path, ("a.parquet", "b.parquet"))
    schema = parquet_schema(spark, path)
    stream = normalize_events_ts(spark.readStream.schema(schema).parquet(dup_dir))
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", F.col("value").cast("double").alias("value"))
    )
    return run_stream_to_memory(spark, deduped, output_mode="append")


# ---------------------------------------------------------------------------
# q89: STREAM-STREAM inner join — last-touch-style attribution: each
# purchase joined to the same user's views from the preceding hour.
# Both sides are real file-source streams (the same source filtered two
# ways — a streaming self-join); each is watermarked and the join
# carries an event-time range condition, which is exactly what lets
# Spark bound the join state: view state older than (purchase watermark
# - 1 hour) is evicted. availableNow processes the backlog in one pass;
# the emitted matches equal the batch join, which the DuckDB oracle
# checks value-for-value. lag_seconds stays in integer microsecond
# arithmetic so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------

_Q89_ORACLE = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id,
       (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS lag_seconds
FROM events p
JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND v.event_type = 'view'
 AND v.ts <= p.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("q89_stream_stream_join", oracle=_Q89_ORACLE, tags=("streaming", "join"))
def q89_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = joined.select(
        "purchase_id",
        "view_id",
        "user_id",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts"))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("lag_seconds"),
    )
    return run_stream_to_memory(spark, out, output_mode="append")


# ---------------------------------------------------------------------------
# q91: STREAM-STATIC join — enrich a live event stream with a batch
# dimension (the lakehouse-native replacement for the reference's
# "silver lookup" pattern). The static side joins per micro-batch with
# a broadcast hash join (no stream state at all — only the windowed agg
# keeps state), so the dim can be refreshed between micro-batches
# without restarting the stream. Output: hourly revenue by customer
# market segment; value-exact against the batch join.
# ---------------------------------------------------------------------------

_Q91_ORACLE = """
SELECT date_trunc('hour', e.ts) AS hour_start,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("q91_stream_static_enrich", oracle=_Q91_ORACLE, tags=("streaming", "join", "dim"))
def q91_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = ev.join(F.broadcast(dim), "user_id")
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dmoney("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_memory(spark, agg)


# ---------------------------------------------------------------------------
# q119: WATERMARK LATE-DATA DROP under a value-level oracle — hard
# evidence that the engine's late-row semantics, not just its happy
# path, are reproduced. A deterministic 4-file generator stream
# (maxFilesPerTrigger=1 -> one micro-batch per file) carries every
# id%7==3 row 700s late; with a 90s watermark over 60s tumbling
# windows, late rows whose window was already evicted are DROPPED, and
# the missing counts are visible in the output.
#
# The drop rule was pinned empirically against this exact pipeline
# (round 3; 8 candidate predicate/lag models, one survivor):
#   - eviction+emission at the end of batch b uses the watermark from
#     batches <= b-1 (max event time - delay);
#   - the LATE-ROW FILTER in batch b uses the watermark from batches
#     <= b-2 (the offset-log watermark planned at batch start) — one
#     batch BEHIND eviction: a row is dropped iff its window end is at
#     or below that lagged watermark;
#   - final emission: window end <= final watermark.
# The oracle replays exactly that batch simulation relationally from
# range() arithmetic (the stream is generator-derived, so no table
# dependency). Constants are chosen so no window end ever equals a
# watermark — the oracle is robust to the <=-vs-< boundary on both
# rules. At scale this is THE state-bound mechanism: without eviction,
# windowed state grows without bound; with it, state is O(windows
# inside the watermark horizon).
# ---------------------------------------------------------------------------

_LATE_N, _LATE_B, _LATE_SHIFT = 2000, 500, 700
_LATE_DELAY, _LATE_WIN, _LATE_BASE = 90, 60, 1700000000

_Q119_ORACLE = f"""
WITH ids AS (
  SELECT id,
         CASE WHEN id % 7 = 3 THEN id - {_LATE_SHIFT} ELSE id END AS e,
         id // {_LATE_B} AS b
  FROM range(0, {_LATE_N}) t(id)
),
placed AS (
  SELECT id, e, b, (({_LATE_BASE} + e) // {_LATE_WIN}) * {_LATE_WIN} AS ws
  FROM ids
),
bm AS (SELECT b, MAX(e) AS mx FROM ids GROUP BY b),
wms AS (
  SELECT b, MAX(mx) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - {_LATE_DELAY} AS wm
  FROM bm
),
kept AS (
  SELECT p.id, p.ws FROM placed p
  LEFT JOIN wms w ON w.b = p.b - 2
  WHERE w.b IS NULL OR p.ws + {_LATE_WIN} > {_LATE_BASE} + w.wm
),
fin AS (SELECT MAX(e) - {_LATE_DELAY} AS fwm FROM ids)
SELECT CAST(ws AS BIGINT) AS win_start_s,
       COUNT(*) AS n_events,
       CAST(SUM(id) AS BIGINT) AS sum_id
FROM kept, fin
WHERE ws + {_LATE_WIN} <= {_LATE_BASE} + fin.fwm
GROUP BY ws
"""


def _late_tables():
    """q119's 4 deterministic batches of (id, ets)."""
    import pyarrow as pa

    for b in range((_LATE_N + _LATE_B - 1) // _LATE_B):
        ids = list(range(b * _LATE_B, min((b + 1) * _LATE_B, _LATE_N)))
        ets = [i - _LATE_SHIFT if i % 7 == 3 else i for i in ids]
        yield pa.table({"id": pa.array(ids, pa.int64()), "ets": pa.array(ets, pa.int64())})


def _ensure_late_fixture() -> str:
    return _batch_dir("late_stream", _late_tables, _LATE_BASE)


@register(
    "q119_stream_late_drop",
    oracle=_Q119_ORACLE,
    tags=("streaming", "watermark", "late-data"),
)
def q119_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _ensure_late_fixture()
    stream = (
        spark.readStream.schema("id bigint, ets bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = stream.select(
        "id", F.timestamp_seconds(F.lit(_LATE_BASE) + F.col("ets")).alias("ts")
    )
    agg = (
        ev.withWatermark("ts", f"{_LATE_DELAY} seconds")
        .groupBy(F.window("ts", f"{_LATE_WIN} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("id").alias("sum_id"))
        .select(
            F.col("w.start").cast("long").alias("win_start_s"),
            "n_events",
            "sum_id",
        )
    )
    return run_stream_to_memory(spark, agg, output_mode="append")


# ---------------------------------------------------------------------------
# q135: STREAMING incremental dedup with a persistent fingerprint index
# — the ingest-time twin of q133's batch form and the stateful cousin
# of q71's dropDuplicates. Each micro-batch of arriving documents is
# checked against the ACCUMULATED index of bag-of-words fingerprints
# from all earlier batches (the boilerplate/reordered-content signal —
# the corpus has no byte-exact dups, but 20+ BOW collisions); within-
# batch firsts resolve by doc_id; the batch's new fingerprints append
# to the index. foreachBatch keeps everything distributed: the index
# is a parquet relation joined per batch — no driver state, no
# collect. At 100 TB the index is the bucketed band-key/fingerprint
# store (tests/test_bucketing.py pins that join shuffle-free); here it
# is small parquet appends.
#
# Determinism: the 4 batch files are doc_id-ntile ranges with strictly
# increasing mtimes (q119's proven ordering recipe), so "seen in an
# earlier batch" == "smaller doc_id" and the DuckDB oracle replays the
# whole run with one window: first_doc_id = MIN(doc_id) per
# fingerprint, batch_no = ntile(4) ORDER BY doc_id.
# ---------------------------------------------------------------------------

_Q135_BATCHES = 4

_Q135_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp,
         CAST(ntile({_Q135_BATCHES}) OVER (ORDER BY doc_id) - 1 AS INT) AS batch_no
  FROM documents
)
SELECT doc_id, fp, batch_no,
       CAST(MIN(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS first_doc_id,
       doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM f
"""


def _ensure_doc_batches(sf_dir: str) -> str:
    """The documents table as N doc_id-ordered batch files (ntile
    sizing, so the oracle can replay the batch assignment exactly)."""
    import pyarrow.parquet as pq

    def tables():
        t = pq.read_table(table_path(sf_dir, "documents"), columns=["doc_id", "text"])
        t = t.sort_by("doc_id")
        size, rem = divmod(t.num_rows, _Q135_BATCHES)
        start = 0
        for b in range(_Q135_BATCHES):
            n = size + (1 if b < rem else 0)
            yield t.slice(start, n)
            start += n

    return _batch_dir(f"doc_batches_{sf_key(sf_dir)}", tables, 1700000000)


@register(
    "q135_stream_incremental_dedup",
    oracle=_Q135_ORACLE,
    tags=("streaming", "dedup", "incremental", "llm"),
)
def q135_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch_dir = _ensure_doc_batches(sf_dir)
    run_dir = fresh_dir("stream_dedup", prefix=f"run_{sf_key(sf_dir)}")
    index_dir = os.path.join(run_dir, "index")
    result_dir = os.path.join(run_dir, "result")
    ckpt_dir = os.path.join(run_dir, "ckpt")
    os.makedirs(run_dir, exist_ok=True)

    fp = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(
                F.array_distinct(
                    tokens("text")
                )
            ),
        )
    )

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        s = batch_df.sparkSession
        b = batch_df.select(
            "doc_id", fp.alias("fp"), F.lit(int(batch_id)).cast("int").alias("batch_no")
        )
        w = Window.partitionBy("fp")
        b = b.withColumn("batch_first", F.min("doc_id").over(w))
        if os.path.isdir(index_dir) and any(
            f.endswith(".parquet") for f in os.listdir(index_dir)
        ):
            seen = s.read.parquet(index_dir)
        else:
            seen = s.createDataFrame([], "fp string, seen_first bigint")
        # the fingerprint index GROWS with history — never hint-broadcast
        # it (q215's rule); the join key is fp, an ordinary shuffle join
        # at scale, and AQE broadcasts while the index is small
        joined = b.join(seen, "fp", "left")
        out = joined.select(
            "doc_id",
            "fp",
            "batch_no",
            F.coalesce("seen_first", "batch_first").alias("first_doc_id"),
            (F.col("doc_id") > F.coalesce("seen_first", "batch_first")).alias("is_dup"),
        )
        out.write.mode("append").parquet(result_dir)
        # index gains this batch's NEW fingerprints (first occurrence id)
        new = (
            b.groupBy("fp")
            .agg(F.min("doc_id").alias("seen_first"))
            .join(seen.select("fp"), "fp", "left_anti")
        )
        new.write.mode("append").parquet(index_dir)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(batch_dir)
    )
    run_available_now(
        spark,
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", ckpt_dir),
    )
    return spark.read.parquet(result_dir).select(
        "doc_id", "fp", "batch_no", "first_doc_id", "is_dup"
    )


# ---------------------------------------------------------------------------
# q138: LEFT OUTER stream-stream join — the null-emission semantics
# q89's inner join never exercises. Unmatched left rows cannot emit
# when they arrive (a match may still come); they emit WITH NULLS only
# once the watermark passes their join window's upper bound, and rows
# whose window is still open when the stream ends are WITHHELD forever.
# Both rules pinned empirically on a deterministic 4-file stream and
# replayed relationally:
#   - matched pairs (id % 3 == 0; the b row sits +10s inside the 30s
#     window) emit as ordinary inner results in every engine;
#   - the final eviction watermark is the MIN of the two streams' final
#     watermarks (a-side max event time - 60s = {N-1}-60, NOT the
#     b-side's later +10 offset), applied strictly:
#     null-emit iff a_ts + 30 < min_wm  ==>  id + 30 < (N-1) - 60.
# The tail above that bound never emits — the relational oracle ranges
# over the SAME arithmetic, so the truncation is part of the contract,
# exactly like q119's late-drop rules.
# ---------------------------------------------------------------------------

_OJ_N, _OJ_B, _OJ_BASE = 400, 100, 1700000000
_OJ_WM, _OJ_WIN, _OJ_OFF = 60, 30, 10

_Q138_ORACLE = f"""
WITH ids AS (SELECT range AS id FROM range({_OJ_N}))
SELECT id AS a_id, TRUE AS matched, CAST({_OJ_OFF} AS BIGINT) AS lag_seconds
FROM ids WHERE id % 3 = 0
UNION ALL
SELECT id, FALSE, NULL
FROM ids WHERE id % 3 <> 0 AND id + {_OJ_WIN} < ({_OJ_N} - 1) - {_OJ_WM}
"""


def _kind_tagged_tables(a_pred):
    """Batches of kind-tagged rows for the stream-join family
    (q138/q148/q268): ids with ``a_pred(i)`` carry an 'a' row
    (ets = i); ids % 3 == 0 carry a 'b' row (ets = i+OFF)."""
    import pyarrow as pa

    for b in range(_OJ_N // _OJ_B):
        rid, ets, kind = [], [], []
        for i in range(b * _OJ_B, (b + 1) * _OJ_B):
            if a_pred(i):
                rid.append(i), ets.append(i), kind.append("a")
            if i % 3 == 0:
                rid.append(i), ets.append(i + _OJ_OFF), kind.append("b")
        yield pa.table(
            {"id": pa.array(rid, pa.int64()), "ets": pa.array(ets, pa.int64()), "kind": pa.array(kind)}
        )


def _oj_watermarked_sides(spark: SparkSession, d: str):
    """The (a, b) watermarked stream pair every kind-tagged join query
    builds: one file-source stream, kind-split, ts = BASE + ets."""
    st = (
        spark.readStream.schema("id bigint, ets bigint, kind string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = st.select(
        "id", "kind", F.timestamp_seconds(F.lit(_OJ_BASE) + F.col("ets")).alias("ts")
    )
    a = (
        ev.filter(F.col("kind") == "a")
        .select(F.col("id").alias("a_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", f"{_OJ_WM} seconds")
    )
    b = (
        ev.filter(F.col("kind") == "b")
        .select(F.col("id").alias("b_id"), F.col("ts").alias("b_ts"))
        .withWatermark("b_ts", f"{_OJ_WM} seconds")
    )
    return a, b


def _ensure_outer_join_fixture() -> str:
    """q138/q148's fixture: every id has an 'a' row."""
    return _batch_dir("outer_join", lambda: _kind_tagged_tables(lambda i: True), _OJ_BASE)


@register(
    "q138_stream_outer_join",
    oracle=_Q138_ORACLE,
    tags=("streaming", "join", "outer", "watermark"),
)
def q138_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _ensure_outer_join_fixture()
    a, b = _oj_watermarked_sides(spark, d)
    joined = a.join(
        b,
        (F.col("a_id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {_OJ_WIN} SECONDS")),
        "leftOuter",
    )
    out = joined.select(
        "a_id",
        F.col("b_id").isNotNull().alias("matched"),
        ((F.unix_micros("b_ts") - F.unix_micros("a_ts")) / F.lit(1000000))
        .cast("bigint")
        .alias("lag_seconds"),
    )
    return run_stream_to_memory(spark, out, output_mode="append")


# ---------------------------------------------------------------------------
# q144: chained streaming window aggregation — two stateful operators in
# one append-mode query (hourly counts re-aggregated into 6-hour blocks),
# the Spark 3.5+ multi-stateful-operator feature (SPARK-40925). The
# second groupBy consumes the FIRST aggregation's window struct as its
# time column, so late-data handling and eviction are driven by one
# watermark end to end.
#
# Emission rule (pinned empirically, q119's method): a 6-hour window is
# emitted iff its end <= max_event_ts - watermark, in epoch millis — the
# inner hourly windows inside an emitted block necessarily closed first
# (hour_end <= block_end <= wm), so every emitted block carries complete
# counts; the relational replay below states exactly that.
#
# Scale: state is O(open hourly windows) + O(open 6h windows) per
# event_type — both bounded by the watermark horizon, independent of
# stream length. The re-aggregation shrinks shuffle traffic 6:1 before
# the second stateful stage; this cascade is how a 100 TB/day stream
# feeds minute->hour->day rollups without re-reading the source.
# ---------------------------------------------------------------------------

_Q144_ORACLE = """
WITH mx AS (SELECT MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events)
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
         - (hour(CAST(ts AS TIMESTAMP)) % 6) * INTERVAL 1 HOUR AS win_start,
       event_type,
       COUNT(*) AS n_events
FROM events, mx
GROUP BY 1, 2, mx.max_ms
HAVING epoch_ms(win_start) + 21600000 <= mx.max_ms - 7200000
"""


@register(
    "q144_stream_chained_windows",
    oracle=_Q144_ORACLE,
    tags=("streaming", "watermark", "chained"),
)
def q144_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    hourly = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    six = hourly.groupBy(
        F.window(F.col("w"), "6 hours").alias("w6"), "event_type"
    ).agg(F.sum("n").alias("n_events"))
    out = six.select(
        F.col("w6.start").alias("win_start"), "event_type", "n_events"
    )
    return run_stream_to_memory(spark, out, output_mode="append")


# ---------------------------------------------------------------------------
# q148: stream-stream join feeding a windowed aggregation — the THIRD
# multi-stateful shape (q144 chains agg->agg; q138/q89 end at the
# join). An interval join matches each 'a' row to its 'b' row within
# [a_ts, a_ts+30s]; the matched pairs then aggregate into 60-second
# windows of a_ts, all inside ONE append-mode query: join state AND
# window state evicted by the same propagated watermark.
#
# Emission pinned empirically on q138's deterministic 4-file stream:
# a 60s window emits iff win_end <= a-side final watermark
# (max a_ts - 60s); at these constants the stricter candidate rule
# (watermark further delayed by the 30s join interval) selects the
# same window set, so the oracle ranges over the simple bound. The
# emitted windows carry COMPLETE pair counts (verified against the
# all-pairs relational replay).
#
# Scale: join state = O(rows inside the interval horizon), window
# state = O(open windows); the cascade keeps per-pair rows out of the
# sink entirely — only window aggregates cross the boundary.
# ---------------------------------------------------------------------------

_Q148_ORACLE = f"""
WITH matched AS (SELECT range AS id FROM range({_OJ_N}) WHERE range % 3 = 0),
win AS (
  SELECT ({_OJ_BASE} + id) - (({_OJ_BASE} + id) % 60) AS win_epoch FROM matched
)
SELECT win_epoch, COUNT(*) AS n_pairs
FROM win
WHERE win_epoch + 60 <= {_OJ_BASE} + {_OJ_N - 1} - {_OJ_WM}
GROUP BY 1
"""


@register(
    "q148_stream_join_agg_cascade",
    oracle=_Q148_ORACLE,
    tags=("streaming", "join", "watermark", "chained"),
)
def q148_stream_join_agg_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _ensure_outer_join_fixture()
    a, b = _oj_watermarked_sides(spark, d)
    joined = a.join(
        b,
        (F.col("a_id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {_OJ_WIN} SECONDS")),
        "inner",
    )
    agg = joined.groupBy(F.window("a_ts", "60 seconds").alias("w")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    out = agg.select(
        F.unix_timestamp(F.col("w.start")).alias("win_epoch"), "n_pairs"
    )
    return run_stream_to_memory(spark, out, output_mode="append")


# ---------------------------------------------------------------------------
# q175: streaming upsert into a TRANSACTIONAL JDBC sink — the
# stream-to-database leg the reference's architecture implies
# (Spark -> Postgres every 30 min) but never made incremental. Each
# micro-batch of the update-mode hourly aggregate lands via the
# staging-table pattern: the batch is written DISTRIBUTED to a staging
# table (Spark's parallel JDBC writer), then the driver executes ONE
# set-based DELETE + INSERT inside a single transaction — no per-row
# and no per-key driver traffic (the statements ship to the DB; only
# metadata crosses the driver). Replaying a batch is idempotent
# (delete-then-insert on the batch's keys), giving effective
# exactly-once on top of foreachBatch's at-least-once. Embedded Derby
# makes the path executable in-repo; the final target table is read
# back through the partitioned JDBC scan and checked value-exactly
# against the batch oracle — update-mode emissions CONVERGE to the
# complete aggregate when upserted by key, which is the property the
# comparison proves.
# ---------------------------------------------------------------------------

_Q175_URL = "jdbc:derby:memory:q175db;create=true"
_Q175_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_Q175_ORACLE = """
SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS hour_epoch,
       event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
         AS total_value
FROM events GROUP BY 1, 2
"""


@register(
    "q175_stream_jdbc_upsert",
    oracle=_Q175_ORACLE,
    tags=("streaming", "jdbc", "sink", "upsert"),
)
def q175_stream_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_jdbc
    from ..sources.writers import write_jdbc

    jvm = spark._jvm  # noqa: SLF001 — driver-side DDL/MERGE statements
    conn = jvm.java.sql.DriverManager.getConnection(_Q175_URL)
    st = conn.createStatement()
    try:
        st.executeUpdate("DROP TABLE stream_gold")
    except Exception:  # noqa: BLE001 — first run has nothing to drop
        pass
    # CREATE is NOT guarded: a genuine failure (quota, lock, bad DDL) must
    # surface here, not later as a confusing staging-insert error against
    # a missing table (ADVICE r3).
    st.executeUpdate(
        "CREATE TABLE stream_gold (hour_epoch BIGINT, event_type VARCHAR(32),"
        " n_events BIGINT, total_value DOUBLE)"
    )
    st.close()
    conn.close()

    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 6
        ).alias("total_value"),
    ).select(
        F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )

    def upsert(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        write_jdbc(
            batch,
            _Q175_URL,
            "stream_stage",
            driver=_Q175_DRIVER,
            # Spark maps StringType to Derby CLOB, which cannot compare
            # with the target's VARCHAR — pin the staging column types
            createTableColumnTypes=(
                "hour_epoch BIGINT, event_type VARCHAR(32),"
                " n_events BIGINT, total_value DOUBLE"
            ),
        )
        c = jvm.java.sql.DriverManager.getConnection(_Q175_URL)
        try:
            c.setAutoCommit(False)
            s = c.createStatement()
            # Spark's JDBC writer emits QUOTED lowercase column names;
            # Derby uppercases unquoted ones — staging columns must be
            # referenced quoted, the DDL-created target unquoted
            s.executeUpdate(
                'DELETE FROM stream_gold WHERE EXISTS (SELECT 1 FROM'
                ' stream_stage st WHERE st."hour_epoch" ='
                " stream_gold.hour_epoch AND st.\"event_type\" ="
                " stream_gold.event_type)"
            )
            s.executeUpdate("INSERT INTO stream_gold SELECT * FROM stream_stage")
            c.commit()
            s.close()
        finally:
            c.close()

    run_available_now(spark, agg.writeStream.outputMode("update").foreachBatch(upsert))

    lo_hi = spark.read.format("jdbc").option("url", _Q175_URL).option(
        "dbtable", "(SELECT MIN(hour_epoch) lo, MAX(hour_epoch) hi FROM stream_gold) b"
    ).option("driver", _Q175_DRIVER).load().collect()[0]
    back = read_jdbc(
        spark,
        _Q175_URL,
        "stream_gold",
        partition_column="hour_epoch",
        lower_bound=int(lo_hi["LO"]),
        upper_bound=int(lo_hi["HI"]) + 1,
        num_partitions=8,
        driver=_Q175_DRIVER,
    )
    # Derby uppercases unquoted identifiers; restore the contract names
    return back.select(
        F.col("HOUR_EPOCH").alias("hour_epoch"),
        F.col("EVENT_TYPE").alias("event_type"),
        F.col("N_EVENTS").alias("n_events"),
        F.col("TOTAL_VALUE").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q245/q246: BI dashboard metrics over a STREAMING-maintained gold table
# (VERDICT r4 item 8 / r5 item 6). The reference recomputes its gold
# layer every 30 minutes and lets Power BI derive YoY / %-of-total
# (Readme.md:157-167); the streaming-native shape is: file-source order
# stream → update-mode aggregate → foreachBatch DYNAMIC-PARTITION-
# OVERWRITE into a partitioned parquet gold table (each micro-batch
# rewrites only the partitions it touched — O(changed partitions), the
# lakehouse upsert that scales), then the dashboard query runs over the
# converged gold. Update-mode emissions carry the CURRENT cumulative
# aggregate per group, so overwrite-by-partition converges to exactly
# the batch recompute — which the DuckDB oracle verifies value-exactly.
# The orders fixture is split into 6 files so availableNow genuinely
# iterates micro-batches (every month is touched by several batches and
# upserted repeatedly before converging).
# ---------------------------------------------------------------------------


def _orders_stream(spark: SparkSession, sf_dir: str, n_files: int = 6) -> DataFrame:
    """File-source stream over orders, split into ``n_files`` parquet
    files (one per micro-batch under maxFilesPerTrigger=1), rebuilt
    once per process."""
    path = table_path(sf_dir, "orders")
    split_dir = built_once(
        "stream",
        f"orders_{sf_key(sf_dir)}_{n_files}",
        build=lambda d: spark.read.parquet(path).repartition(n_files)
        .write.mode("overwrite").parquet(d),
    )
    schema = parquet_schema(spark, path)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )


def _dynamic_partition_upsert(
    batch: DataFrame, gold_dir: str, partition_cols: list[str]
) -> None:
    """One micro-batch's upsert: dynamic partition overwrite rewrites
    ONLY the partition dirs present in ``batch`` — untouched partitions
    keep their existing files byte-for-byte (O(changed partitions) per
    batch, the property tests/test_streaming.py pins the way
    test_versioned.py pins COW file sharing). Requires the caller to
    have set ``spark.sql.sources.partitionOverwriteMode=dynamic``.

    No emptiness pre-check (opt r14, guide §5 "the driver should do
    almost no data work"): a foreachBatch DataFrame re-executes its
    incremental plan — the state-store read + aggregation — per
    action, so the old ``batch.isEmpty()`` guard paid the whole
    micro-batch compute a SECOND time before every write (profiled
    ~0.2s of each ~0.65s warm upsert at sf0.1). Under DYNAMIC overwrite
    the guard is also semantically redundant: an empty batch contains
    zero partition values, so the write overwrites zero partition dirs
    — the same no-op the early return produced."""
    # align writer tasks to partition dirs: one task owns each
    # touched partition, so every overwrite lands as ONE file per
    # dir instead of shuffle-partitions-many small files — the
    # standard partitioned-write pattern, same shape at any scale
    (
        batch.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(gold_dir)
    )


def _run_gold_upsert(
    spark: SparkSession,
    agg: DataFrame,
    gold_dir: str,
    partition_cols: list[str],
) -> DataFrame:
    """Execute ``agg`` (an update-mode streaming aggregate) to
    completion, upserting each micro-batch into ``gold_dir`` via dynamic
    partition overwrite; returns the converged gold as a batch frame."""
    shutil.rmtree(gold_dir, ignore_errors=True)

    def upsert(batch: DataFrame, _bid: int) -> None:
        _dynamic_partition_upsert(batch, gold_dir, partition_cols)

    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        run_available_now(spark, agg.writeStream.outputMode("update").foreachBatch(upsert))
    return spark.read.parquet(gold_dir)


_Q245_ORACLE = """
WITH rev AS (
  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
         month(CAST(o_orderdate AS DATE)) AS o_month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1, 2
)
SELECT o_year, o_month, revenue, n_orders,
       lag(revenue) OVER w AS prev_value,
       CASE WHEN lag(revenue) OVER w <> 0
            THEN (revenue - lag(revenue) OVER w) / lag(revenue) OVER w * 100.0
       END AS yoy_pct
FROM rev
WINDOW w AS (PARTITION BY o_month ORDER BY o_year)
"""


@register(
    "q245_stream_gold_yoy",
    oracle=_Q245_ORACLE,
    tags=("streaming", "gold", "window", "yoy", "bi"),
)
def q245_stream_gold_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import yoy

    gold_dir = scratch_path("stream", f"gold_monthly_{sf_key(sf_dir)}")
    stream = _orders_stream(spark, sf_dir)
    d = F.to_date("o_orderdate")
    monthly = stream.groupBy(
        F.year(d).alias("o_year"), F.month(d).alias("o_month")
    ).agg(
        F.sum(dmoney("o_totalprice")).alias("revenue_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    gold = _run_gold_upsert(spark, monthly, gold_dir, ["o_year", "o_month"])
    monthly_b = gold.select(
        "o_year",
        "o_month",
        F.col("revenue_dec").cast("double").alias("revenue"),
        "n_orders",
    )
    return yoy(monthly_b, entity_cols=["o_month"], period_col="o_year", metric_col="revenue")


_Q246_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(rev AS DOUBLE) AS revenue,
       n_orders,
       CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) * 100.0
         AS pct_of_total
FROM (
  SELECT c_mktsegment,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
         COUNT(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
)
"""


@register(
    "q246_stream_gold_pct_of_total",
    oracle=_Q246_ORACLE,
    tags=("streaming", "gold", "pct", "bi", "stream-static"),
)
def q246_stream_gold_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment revenue share over a streaming-maintained gold:
    stream-static join (orders stream × customer dim — the dim is read
    fresh per micro-batch, Spark's slowly-changing-dim pattern), update-
    mode aggregate, dynamic-partition-overwrite upsert, then %-of-total
    via the broadcast 1-row-total operator (never an empty-frame global
    window). The segment dim attach broadcasts per batch at local scale;
    on a cluster AQE decides per micro-batch."""
    from ..catalog import load_table

    gold_dir = scratch_path("stream", f"gold_segment_{sf_key(sf_dir)}")
    stream = _orders_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        stream.join(cust, stream.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(dmoney("o_totalprice")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    gold = _run_gold_upsert(spark, seg, gold_dir, ["segment"])
    total = gold.agg(F.sum("rev").alias("__total"))
    return (
        gold.crossJoin(F.broadcast(total))
        .select(
            "segment",
            F.col("rev").cast("double").alias("revenue"),
            "n_orders",
            (
                F.col("rev").cast("double") / F.col("__total").cast("double")
                * F.lit(100.0)
            ).alias("pct_of_total"),
        )
    )


# ---------------------------------------------------------------------------
# q253: STREAMING sliding (hopping) window — window(ts, '1 hour',
# '15 minutes') over the event stream: every event lands in exactly 4
# overlapping windows (the dashboard "last hour, refreshed every 15
# min" shape). State per key is windows-per-slide × groups — bounded by
# the slide ratio, not the data. The oracle replays the window algebra
# relationally: each event contributes to the 4 grid windows covering
# it (integer epoch math — floor(epoch/900)*900 − i·900 — so both
# engines compute the identical epoch-aligned grid Spark's window()
# uses; no engine time_bucket origin quirks).
# ---------------------------------------------------------------------------

_Q253_ORACLE = """
WITH ex AS (
  -- CAST back to naive TIMESTAMP: DuckDB's to_timestamp returns
  -- TIMESTAMPTZ, which would hash differently from Spark's
  -- session-naive window starts even at identical instants (UTC tz).
  SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) * 900
                      - i * 900) AS TIMESTAMP) AS win_start,
         event_type, value
  FROM events, LATERAL unnest(generate_series(0, 3)) AS t(i)
)
SELECT win_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM ex
GROUP BY 1, 2
"""


@register(
    "q253_stream_sliding_window",
    oracle=_Q253_ORACLE,
    tags=("streaming", "window-agg", "sliding"),
)
def q253_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dmoney("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
    )
    return run_stream_to_memory(spark, agg)


# ---------------------------------------------------------------------------
# q256: session windows with a DYNAMIC gap (Spark 3.2+): the gap is a
# per-event expression — purchases hold a session open 45 minutes,
# everything else 30 — the "checkout takes longer" policy no fixed-gap
# sessionizer (q54/q55/q60) can express. Spark merges the overlapping
# [ts, ts+gap) intervals per user; session end = max member end. The
# oracle replays the merge relationally: running max of interval ends
# (exclusive frame) → new session when ts >= that max → cumulative
# session ids. All comparisons in integer microseconds.
# ---------------------------------------------------------------------------

_Q256_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         epoch_us(CAST(ts AS TIMESTAMP))
           + CASE WHEN event_type = 'purchase'
                  THEN 2700000000 ELSE 1800000000 END AS e_end
  FROM events
),
o AS (
  SELECT *, MAX(e_end) OVER (
    PARTITION BY user_id ORDER BY t, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS prev_max
  FROM e
),
sess AS (
  SELECT user_id, t, e_end,
         SUM(CASE WHEN prev_max IS NULL OR t >= prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY t, event_id) AS sid
  FROM o
)
SELECT user_id,
       MIN(t) AS session_start_us,
       MAX(e_end) AS session_end_us,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
"""


@register(
    "q256_dynamic_gap_sessions",
    oracle=_Q256_ORACLE,
    tags=("sessionize", "window-agg", "dynamic-gap"),
)
def q256_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase",
        F.expr("make_interval(0,0,0,0,0,45,0)"),   # CalendarIntervalType
    ).otherwise(F.expr("make_interval(0,0,0,0,0,30,0)"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q257: STREAM-STREAM LEFT SEMI join — q89's inner join emits one row
# per (purchase, view) pair; the semi form answers "which purchases had
# ANY view in the preceding hour" and emits each purchase exactly ONCE,
# with the same range-condition state eviction (view state older than
# watermark − 1h is dropped). The output-cardinality difference is the
# whole point: at fact scale an attribution EXISTS-check must not pay
# the pair blow-up. Oracle = EXISTS subquery; conversion lag is not
# emitted (a semi join exposes no right-side columns, by definition).
# ---------------------------------------------------------------------------

_Q257_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       CAST(p.value AS DOUBLE) AS value
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events v
    WHERE v.event_type = 'view'
      AND v.user_id = p.user_id
      AND v.ts <= p.ts
      AND p.ts <= v.ts + INTERVAL 1 HOUR
  )
"""


@register(
    "q257_stream_semi_join",
    oracle=_Q257_ORACLE,
    tags=("streaming", "join", "semi"),
)
def q257_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    return run_stream_to_memory(
        spark,
        joined.select("purchase_id", "user_id", "value"),
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# q268: stream-stream FULL OUTER join — the missing corner of the
# stream-join matrix (q89 inner, q138 LEFT OUTER, q257 LEFT SEMI):
# reconciliation between two event feeds where BOTH sides need
# unmatched emission (orders with no confirmation AND confirmations
# with no order — the billing-audit stream shape). Same bounded-state
# mechanics as q138: watermarks on both inputs plus a time-range join
# condition give every row a finite match horizon; unmatched rows emit
# with nulls once the global watermark passes their horizon.
#
# Fixture (sf-independent, like q138): every id%5!=1 has an 'a' row
# (ets=id); every id%3==0 has a 'b' row (ets=id+10). So id%3==0 &&
# id%5!=1 match; other a-rows are left-unmatched; ids ≡ 6 (mod 15)
# are b-only. Emission bounds (pinned empirically, q119's method, then
# stated relationally in the oracle): with max a-ets = N-1 and 60s
# watermarks, the final global watermark is (N-1) - 60; an unmatched
# a-row emits iff a_ts + 30 < wm, an unmatched b-row iff b_ts - 30 <=
# wm is insufficient — b evicts when wm passes the latest a it could
# match (a_ts <= b_ts), i.e. iff b_ts < wm. Rows above the bounds stay
# in state at availableNow termination and never emit — part of the
# contract, exactly like q138's tail truncation.
#
# Scale: state per side is O(rows inside the watermark horizon); the
# join keys partition both streams, full-outer adds no extra state
# over left-outer (both sides already buffer for the inner match).
# ---------------------------------------------------------------------------

_Q268_ORACLE = f"""
WITH ids AS (SELECT range AS id FROM range({_OJ_N}))
SELECT id, 'both' AS side, CAST({_OJ_OFF} AS BIGINT) AS lag_seconds
FROM ids WHERE id % 3 = 0 AND id % 5 <> 1
UNION ALL
SELECT id, 'a_only', NULL
FROM ids
WHERE id % 5 <> 1 AND id % 3 <> 0
  AND id + {_OJ_WIN} < ({_OJ_N} - 1) - {_OJ_WM}
UNION ALL
SELECT id, 'b_only', NULL
FROM ids
WHERE id % 3 = 0 AND id % 5 = 1
  AND id + {_OJ_OFF} < ({_OJ_N} - 1) - {_OJ_WM}
"""


def _ensure_full_outer_fixture() -> str:
    """q268's fixture: 'a' rows only for ids % 5 != 1 (so the b-side
    has genuinely unmatched rows)."""
    return _batch_dir(
        "full_outer_join", lambda: _kind_tagged_tables(lambda i: i % 5 != 1), _OJ_BASE
    )


@register(
    "q268_stream_full_outer_join",
    oracle=_Q268_ORACLE,
    tags=("streaming", "join", "outer", "watermark"),
)
def q268_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _ensure_full_outer_fixture()
    a, b = _oj_watermarked_sides(spark, d)
    joined = a.join(
        b,
        (F.col("a_id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {_OJ_WIN} SECONDS")),
        "fullOuter",
    )
    out = joined.select(
        F.coalesce(F.col("a_id"), F.col("b_id")).alias("id"),
        F.when(F.col("a_id").isNotNull() & F.col("b_id").isNotNull(), "both")
        .when(F.col("b_id").isNull(), "a_only")
        .otherwise("b_only")
        .alias("side"),
        ((F.unix_micros("b_ts") - F.unix_micros("a_ts")) / F.lit(1000000))
        .cast("bigint")
        .alias("lag_seconds"),
    )
    return run_stream_to_memory(spark, out, output_mode="append")


# ---------------------------------------------------------------------------
# q273: state-store introspection (Spark 4's `statestore` batch source)
# — read a streaming checkpoint's STATE as a DataFrame. This is the ops
# capability that matters when a 100 TB/day stream misbehaves: instead
# of guessing what a stateful operator holds, query it (state rows,
# per-partition sizes, skewed keys) with ordinary SQL, offline, without
# touching the running query. Here: an event-type running-count
# aggregate executes to completion against a fresh checkpoint, then the
# checkpoint is opened with spark.read.format("statestore") and the
# keyed state is returned — which for a completed complete-mode count
# over the whole fixture must equal the batch GROUP BY, and that is
# exactly what the oracle checks. The companion `state-metadata` source
# (operator names / state store names / batch ids) is probed in
# tests/test_streaming.py. State layout and source behavior probed on
# Spark 4.1.2 (2026-08-15) — re-probe on upgrade before blaming a diff.
#
# Scale: the state source reads snapshot + delta files per partition in
# parallel — O(state size), no reprocessing of the input stream.
# ---------------------------------------------------------------------------

_Q273_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register(
    "q273_statestore_introspection",
    oracle=_Q273_ORACLE,
    tags=("streaming", "statestore", "ops"),
)
def q273_statestore_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", f"statestore_probe_{sf_key(sf_dir)}")
    # fresh checkpoint per run: a leftover checkpoint would skip the
    # already-processed fixture files and (after a fixture regen) hold
    # stale counts
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").count()
    run_available_now(
        spark,
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q278: streaming observe() — per-micro-batch data-quality metrics
# riding the stream itself (CollectMetrics inside the streaming plan,
# delivered through StreamingQueryListener.onQueryProgress), q249's
# batch capability lifted to the stream: row counts / key ranges per
# trigger WITHOUT a second aggregation branch competing for state.
# The per-batch values depend on file-split boundaries, so the
# REGISTERED result is the split-invariant cross-batch reduction
# (Σ n per batch == table count; max over batches == table max) — the
# reconciliation a sink-vs-source audit actually performs. Metrics are
# mergeable aggregates only (the q249 CollectMetrics contract).
# Scale: zero extra scan, O(batches) driver-side metric rows.
# ---------------------------------------------------------------------------

_Q278_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
FROM orders
"""


@register(
    "q278_stream_observe_metrics",
    oracle=_Q278_ORACLE,
    tags=("streaming", "observe", "metrics", "ops"),
)
def q278_stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming import StreamingQueryListener

    collected: list[tuple[int, int, int]] = []

    class _MetricsListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            m = event.progress.observedMetrics.get("audit")
            if m is not None:
                collected.append((m["n"], m["max_k"], m["min_k"]))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    stream = _orders_stream(spark, sf_dir)
    observed = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_k"),
        F.min("o_orderkey").alias("min_k"),
    )
    listener = _MetricsListener()
    spark.streams.addListener(listener)
    try:
        run_available_now(spark, observed.writeStream.format("noop"))
        # listener events are delivered asynchronously AFTER termination;
        # bounded wait for the final batch's metrics to drain
        import time

        expected = spark.read.parquet(table_path(sf_dir, "orders")).count()
        # 30s ceiling (was 10s): q297's r9 flake showed this box can
        # starve background threads ~20s under concurrent replay load;
        # the loop still exits on the first drained check, so the
        # higher ceiling costs nothing on a quiet host and the
        # RuntimeError below stays the loud-failure path.
        for _ in range(300):
            if sum(n for n, _, _ in collected) >= expected:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    # fail LOUDLY if the asynchronous listener never drained the full
    # metric set — silently reducing partial metrics would return a
    # plausible-but-wrong total (ADVICE r7); zero-row micro-batches
    # report max_k/min_k as None, so reductions skip them.
    drained = sum(n for n, _, _ in collected)
    if drained != expected:
        raise RuntimeError(
            f"q278: observed metrics incomplete after wait: "
            f"{drained} rows counted vs {expected} expected "
            f"({len(collected)} progress events)"
        )
    maxes = [mk for _, mk, _ in collected if mk is not None]
    mins = [mn for _, _, mn in collected if mn is not None]
    if not maxes or not mins:
        raise RuntimeError("q278: no non-empty micro-batch metrics collected")
    rows = [(drained, max(maxes), min(mins))]
    return spark.createDataFrame(
        rows, "n_orders bigint, max_orderkey bigint, min_orderkey bigint"
    )


# ---------------------------------------------------------------------------
# q279: join-state introspection — q273's statestore source opened on
# a stream-stream JOIN's checkpoint (storeName selects among the
# symmetricHashJoin's four stores). The RETAINED row count per side is
# fully determined by the watermark eviction arithmetic, and that is
# what the oracle states relationally over the same id spine as q268:
# with final global watermark wm = (N-1) - WM (the a-side maximum
# bounds the minimum), a left row is still buffered iff a_ts + WIN >=
# wm (it could still match a future b) and a right row iff b_ts >= wm.
# This is the question an on-call engineer actually asks of a
# misbehaving join ("why is this state store 400 GB?") — answered with
# SQL over the checkpoint, no reprocessing, verified here against the
# closed form. Fresh checkpoint per run (the q273 staleness rule).
# Retention arithmetic (which side buffers until which watermark) is
# empirically pinned on Spark 4.1.2 (2026-08-15); a 4.2 bump that
# shifts eviction by one boundary reads as "re-probe", not "flaky".
# ---------------------------------------------------------------------------

_Q279_ORACLE = f"""
WITH ids AS (SELECT range AS id FROM range({_OJ_N}))
SELECT 'left' AS side,
       CAST(COUNT(*) AS BIGINT) AS n_state_rows
FROM ids
WHERE id % 5 <> 1 AND id + {_OJ_WIN} >= ({_OJ_N} - 1) - {_OJ_WM}
UNION ALL
SELECT 'right',
       CAST(COUNT(*) AS BIGINT)
FROM ids
WHERE id % 3 = 0 AND id + {_OJ_OFF} >= ({_OJ_N} - 1) - {_OJ_WM}
"""


@register(
    "q279_join_state_introspection",
    oracle=_Q279_ORACLE,
    tags=("streaming", "statestore", "join", "ops"),
)
def q279_join_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", f"join_state_probe_{sf_key(sf_dir)}")
    shutil.rmtree(ckpt, ignore_errors=True)
    d = _ensure_full_outer_fixture()
    a, b = _oj_watermarked_sides(spark, d)
    joined = a.join(
        b,
        (F.col("a_id") == F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {_OJ_WIN} SECONDS")),
        "fullOuter",
    )
    run_available_now(
        spark,
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt),
    )
    sides = []
    for side in ("left", "right"):
        n = (
            spark.read.format("statestore")
            .option("storeName", f"{side}-keyWithIndexToValue")
            .load(ckpt)
            .count()
        )
        sides.append((side, n))
    return spark.createDataFrame(sides, "side string, n_state_rows bigint")


# ---------------------------------------------------------------------------
# q280: SESSION-WINDOW state introspection — the third leg of the
# statestore matrix (aggregate q273 / join q279 / session here): open
# the checkpoint of a streaming session_window aggregate and return the
# OPEN-session inventory per user — the sessions the watermark has not
# yet closed, which is exactly what the sessionWindowStateStoreSaveExec
# store retains (closed sessions were emitted in append mode and
# evicted). "Which sessions is the pipeline still holding, and since
# when?" answered with SQL over the checkpoint, no reprocessing.
#
# Closed form (empirically pinned, r8 probe): over the kind-tagged
# fixture (ids 0..N-1, ts = BASE + id seconds, batches of _OJ_B in id
# order), user = (id DIV RUN) % USERS gives each user RUN-second event
# runs separated by (USERS-1)*RUN seconds; with gap < that separation
# each run is one session [first, last + GAP). Final global watermark
# wm = (N-1) - WM, and a session stays in state iff its end is
# STRICTLY after wm (end == wm was emitted and evicted — verified:
# user 1's 300-block session ends exactly at wm and is gone; probed on
# Spark 4.1.2, 2026-08-15 — an upgrade shifting the boundary by one
# means "re-probe the retention rule", not "flaky"). The
# oracle replays the session merge relationally (the q256 running-max
# technique) and applies that retention predicate — state content as a
# closed-form query, like q279.
#
# Scale: the statestore source reads snapshot + delta files per
# partition in parallel, O(retained state), never re-reading the input.
# ---------------------------------------------------------------------------

_SW_GAP, _SW_RUN, _SW_USERS = 20, 10, 5

_Q280_ORACLE = f"""
WITH e AS (
  SELECT range AS id,
         (range // {_SW_RUN}) % {_SW_USERS} AS user_id,
         range AS t,
         range + {_SW_GAP} AS e_end
  FROM range({_OJ_N})
),
o AS (
  SELECT *, MAX(e_end) OVER (
    PARTITION BY user_id ORDER BY t, id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS prev_max
  FROM e
),
sess AS (
  SELECT user_id, t, e_end,
         SUM(CASE WHEN prev_max IS NULL OR t >= prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY t, id) AS sid
  FROM o
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MIN(t) AS BIGINT) AS session_start_s,
       CAST(MAX(e_end) AS BIGINT) AS session_end_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
HAVING MAX(e_end) > ({_OJ_N} - 1) - {_OJ_WM}
"""


@register(
    "q280_session_state_introspection",
    oracle=_Q280_ORACLE,
    tags=("streaming", "statestore", "sessionize", "ops"),
)
def q280_session_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", f"session_state_probe_{sf_key(sf_dir)}")
    # fresh checkpoint per run (the q273/q279 staleness rule)
    shutil.rmtree(ckpt, ignore_errors=True)
    d = _ensure_outer_join_fixture()
    st = (
        spark.readStream.schema("id bigint, ets bigint, kind string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = (
        st.filter(F.col("kind") == "a")
        .select(
            "id",
            (F.expr(f"id DIV {_SW_RUN}") % _SW_USERS).alias("user_id"),
            F.timestamp_seconds(F.lit(_OJ_BASE) + F.col("ets")).alias("ts"),
        )
        .withWatermark("ts", f"{_OJ_WM} seconds")
    )
    agg = ev.groupBy(
        F.session_window("ts", f"{_SW_GAP} seconds").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    run_available_now(
        spark,
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("value.user_id").alias("user_id"),
        (F.unix_seconds(F.col("value.session_window.start")) - F.lit(_OJ_BASE)).alias(
            "session_start_s"
        ),
        (F.unix_seconds(F.col("value.session_window.end")) - F.lit(_OJ_BASE)).alias(
            "session_end_s"
        ),
        F.col("value.count").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q285: DEDUP state introspection — the fourth statestore leg
# (aggregate q273 / join q279 / session q280 / streaming dropDuplicates
# here). A streaming dropDuplicates(user_id) keeps one void-valued
# state row PER KEY EVER SEEN (no watermark => nothing evicts), so on
# a completed availableNow run the store's key inventory IS the
# distinct-key set — the oracle is a plain SELECT DISTINCT, the same
# "state equals its relational definition" bar as q273. This is the
# store an on-call engineer inspects when a streaming dedup's state
# grows without bound (the fix — dropDuplicatesWithinWatermark — is
# exactly a policy on which of these rows may be deleted — see
# q287/q288).
# State schema (probed r8, Spark 4.1.2 2026-08-15 — re-probe on
# upgrade): key = the dedup columns, value = a void __dummy__;
# operator name 'dedupe' in state-metadata (test-pinned).
# ---------------------------------------------------------------------------

_Q285_ORACLE = """
SELECT DISTINCT user_id FROM events
"""


@register(
    "q285_dedup_state_introspection",
    oracle=_Q285_ORACLE,
    tags=("streaming", "statestore", "dedup", "ops"),
)
def q285_dedup_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", f"dedup_state_probe_{sf_key(sf_dir)}")
    # fresh checkpoint per run (the q273/q279/q280 staleness rule)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    dd = stream.select("user_id").dropDuplicates(["user_id"])
    run_available_now(
        spark,
        dd.writeStream.format("noop")
        .option("checkpointLocation", ckpt),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(F.col("key.user_id").alias("user_id"))


# ---------------------------------------------------------------------------
# q287/q288: dropDuplicatesWithinWatermark — BOTH faces of the
# production fix for the unbounded dedup state q285 made inspectable.
# Plain streaming dropDuplicates (q71/q285) keeps one state row per key
# FOREVER; dropDuplicatesWithinWatermark bounds the state by policy:
# the first sighting of a key EMITS and records
# expiresAt = event_time + delay; later sightings are dropped (without
# extending the expiry) for as long as the state row exists; the row is
# evicted once the watermark passes expiresAt, after which the next
# sighting re-emits and resets. Together q71 (exact), q135
# (incremental), q285 (introspection) and this pair complete the dedup
# story: semantics, state shape, and the bounded-state production
# operator.
#
# Closed form on the kind-tagged fixture (a-rows at ets=id, id 0..399,
# one 100-row file per micro-batch in mtime order, key = id % 50,
# delay = _OJ_WM = 60 s) — REPLAYED from an empirical probe on Spark
# 4.1.2 (2026-08-15; the batch/eviction interleaving below is an
# implementation observation, re-probe on upgrade):
#   batch 0 (ids 0..99):    state empty -> id k emits, exp = k+60;
#                           id k+50 <= exp -> dropped, NO extension.
#   batch 1 (ids 100..199): eviction watermark is still 39 (watermark
#                           advances one batch behind: max ets of the
#                           PREVIOUS batch - 60), exp = k+60 > 39 ->
#                           rows survive -> k+100 dropped.
#   batch 2 (ids 200..299): watermark 139 now passes every exp <= 109,
#                           BUT input processing runs BEFORE
#                           end-of-batch eviction, so k+200 still sees
#                           the stale row and is DROPPED; the row is
#                           evicted at batch end.
#   batch 3 (ids 300..399): state empty again -> k+300 emits,
#                           exp = k+360; k+350 dropped.
# Emitted = {k, k+300 : k in 0..49} (100 rows); final state = 50 rows
# with expiresAt = BASE + k + 360 (> final watermark BASE+339, so none
# evict). Deterministic because each micro-batch is ONE file = ONE map
# task, so every shuffle partition receives its rows in ascending-id
# scan order (multi-file batches would make within-key arrival order,
# and hence which sighting emits, racy).
# Scale: this is THE bounded-state dedup for 100 TB streams — state is
# O(distinct keys within the watermark horizon), not O(keys ever seen).
# ---------------------------------------------------------------------------

_DW_KEYS = 50  # dedup-key period: id % _DW_KEYS

_Q287_ORACLE = f"""
WITH ids AS (SELECT range AS id FROM range({_OJ_N}))
SELECT id % {_DW_KEYS} AS dedup_key, id AS emitted_s
FROM ids
WHERE id // {_DW_KEYS} IN (0, 6)
"""

_Q288_ORACLE = f"""
SELECT range AS dedup_key,
       range + {_DW_KEYS * 6} + {_OJ_WM} AS expires_rel_s
FROM range({_DW_KEYS})
"""


def _run_ddww_probe(spark: SparkSession, suffix: str) -> tuple[str, str]:
    """Run the dropDuplicatesWithinWatermark stream over the kind-tagged
    fixture to completion; returns (sink_dir, checkpoint_dir). Fresh
    checkpoint+sink per run (the q273/q279/q280/q285 staleness rule).
    Each face runs its own probe so the registered queries stay
    independent under the driver's per-query harness."""
    ckpt = scratch_path("stream", f"ddww_probe_{suffix}_ckpt")
    sink = scratch_path("stream", f"ddww_probe_{suffix}_out")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    d = _ensure_outer_join_fixture()
    st = (
        spark.readStream.schema("id bigint, ets bigint, kind string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    dd = (
        st.filter(F.col("kind") == "a")
        .select(
            (F.col("id") % _DW_KEYS).alias("dedup_key"),
            F.col("id").alias("emitted_s"),
            F.timestamp_seconds(F.lit(_OJ_BASE) + F.col("ets")).alias("ts"),
        )
        .withWatermark("ts", f"{_OJ_WM} seconds")
        .dropDuplicatesWithinWatermark(["dedup_key"])
        .drop("ts")
    )
    run_available_now(
        spark,
        dd.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
    )
    return sink, ckpt


@register(
    "q287_dedup_within_watermark",
    oracle=_Q287_ORACLE,
    tags=("streaming", "dedup", "watermark", "bounded-state"),
)
def q287_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMITTED face: which sightings survive the chain semantics
    (first-per-state-epoch emits; duplicates drop without extending)."""
    sink, _ = _run_ddww_probe(spark, "emit")
    return spark.read.parquet(sink).select("dedup_key", "emitted_s")


@register(
    "q288_dedup_within_wm_state",
    oracle=_Q288_ORACLE,
    tags=("streaming", "dedup", "watermark", "statestore", "ops"),
)
def q288_dedup_within_wm_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE face (fifth statestore leg): key = the dedup columns,
    value = expiresAtMicros — unlike q285's void value, the expiry IS
    the bounded-state policy, so the inventory carries it. Returned
    relative to _OJ_BASE in seconds: expires_rel_s = k + 360."""
    _, ckpt = _run_ddww_probe(spark, "state")
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.dedup_key").alias("dedup_key"),
        (
            (F.col("value.expiresAtMicros") / F.lit(1_000_000)).cast("long")
            - F.lit(_OJ_BASE)
        ).alias("expires_rel_s"),
    )


# ---------------------------------------------------------------------------
# q290/q291/q292: the state BACKEND and state HISTORY legs of the
# statestore matrix. q273/q279/q280/q285/q288 pinned WHAT each stateful
# operator keeps; these three pin WHERE it lives and HOW it evolves:
#
#   q290 — RocksDBStateStoreProvider: the production backend for
#          large state (off-heap, SST-file spill, incremental zip
#          snapshots — state scales with DISK, not executor heap; the
#          default HDFSBackedStateStoreProvider keeps every key in
#          heap memory, a hard wall at 100 TB-stream key cardinality).
#          The statestore reader resolves the provider from the
#          checkpoint's own offset log, so the inventory read needs NO
#          provider conf — pinned here by reading with the default
#          session conf.
#   q291 — changelog checkpointing + readChangeFeed: state CDC. With
#          rocksdb.changelogCheckpointing the commit uploads a delta
#          changelog instead of a full snapshot (upload cost O(changed
#          keys), not O(state)); the statestore source can then replay
#          state EVOLUTION as (batch_id, change_type, key, value) rows.
#   q292 — batchId time travel on the default provider: state AS OF
#          batch k reconstructed from retained snapshot versions
#          (minBatchesToRetain, default 100) — the "what did the
#          operator know at trigger k" debugging read.
#
# All three share one deterministic substrate: the kind-tagged fixture
# (4 one-file micro-batches of 100 sequential ids each), an update-mode
# groupBy-count whose grouping key is a MATERIALIZED column — probed
# Spark 4.1.2 (2026-08-15): grouping by an inline expression names the
# state key struct field `_groupingexpression`, so a readable state
# schema requires selecting the key as a real column BEFORE groupBy.
# Counts are arrival-order-independent, so unlike q287 these rows do
# not depend on the one-file-per-batch scan-order guarantee — only the
# BATCH BOUNDARIES (which ids landed by batch k) must be deterministic,
# and mtime-ordered maxFilesPerTrigger=1 fixes that.
# Oracles: cumulative counts of id % m over the id-prefix each batch
# has seen — closed-form over range(), no engine-specific values.
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# MAINTENANCE-RACE AUDIT (VERDICT r10 item 5): of the statestore-matrix
# builders, only q297 needed the commit-log-gate + one-retry hardening,
# because snapshotStartBatchId is the ONLY read that requires an
# artifact produced by the ASYNCHRONOUS maintenance thread (the
# <v>.zip under RocksDB+changelog). Every other builder in this family
# reads artifacts written SYNCHRONOUSLY inside the batch commit that
# awaitTermination() (availableNow) waits for, so they cannot race:
#   - q290: RocksDB with changelog checkpointing OFF uploads the full
#     .zip snapshot inside commit() itself (that synchronous upload is
#     the cost changelog checkpointing exists to remove) — the zip the
#     companion test asserts is present the moment the query ends;
#   - q291: readChangeFeed consumes only changelog files, written at
#     commit; maintenance snapshots are an optimization it never needs;
#   - q292: the HDFS provider writes <v>.delta at commit; a batchId
#     read reconstructs from deltas alone (maintenance .snapshot files
#     only shorten the replay);
#   - q298: statestore 'latest' + state-metadata reads — metadata is
#     written at query start/commit, and 'latest' resolves from
#     committed versions only.


def _run_mod_count_stream(
    spark: SparkSession,
    suffix: str,
    mod: int,
    provider: str | None = None,
    changelog: bool = False,
) -> str:
    """Run groupBy(id % mod).count() in update mode over the kind-tagged
    fixture to completion under the given state-store provider; returns
    the checkpoint dir. Fresh checkpoint per run (the q273 staleness
    rule); session confs are restored even on failure so a dead query
    cannot leak a provider override into later registry entries."""
    ckpt = scratch_path("stream", f"modcount_{suffix}_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    d = _ensure_outer_join_fixture()
    st = (
        spark.readStream.schema("id bigint, ets bigint, kind string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        st.filter(F.col("kind") == "a")
        .select((F.col("id") % mod).alias("k"))
        .groupBy("k")
        .count()
    )
    confs: dict[str, str] = {}
    if provider:
        confs["spark.sql.streaming.stateStore.providerClass"] = provider
    if changelog:
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    with conf_scope(spark, confs):
        run_available_now(
            spark,
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt),
        )
    return ckpt


_Q290_ORACLE = """
WITH ids AS (SELECT range AS id FROM range(400))
SELECT id % 11 AS k, CAST(COUNT(*) AS BIGINT) AS cnt
FROM ids
GROUP BY 1
"""


@register(
    "q290_rocksdb_state_backend",
    oracle=_Q290_ORACLE,
    tags=("streaming", "statestore", "rocksdb", "ops"),
)
def q290_rocksdb_state_backend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate state written by RocksDBStateStoreProvider, read back
    WITHOUT any provider conf — the reader takes the provider from the
    checkpoint itself, so an on-call inventory read works the same
    against either backend. Backend engagement is not taken on faith:
    tests/test_streaming.py pins SST files + versioned zip snapshots
    inside the checkpoint. Probed Spark 4.1.2 (2026-08-15)."""
    ckpt = _run_mod_count_stream(
        spark, "rocksdb", mod=11, provider=_ROCKSDB_PROVIDER
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.k").alias("k"), F.col("value.count").alias("cnt")
    )


_Q291_ORACLE = """
WITH batches AS (SELECT range AS b FROM range(4)),
     ids AS (SELECT range AS id FROM range(400))
SELECT b AS batch_id, 'update' AS change_type,
       id % 7 AS k, CAST(COUNT(*) AS BIGINT) AS cnt
FROM batches JOIN ids ON id < (b + 1) * 100
GROUP BY 1, 2, 3
"""


@register(
    "q291_state_change_feed",
    oracle=_Q291_ORACLE,
    tags=("streaming", "statestore", "rocksdb", "cdc", "ops"),
)
def q291_state_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State CDC: readChangeFeed over a changelog-checkpointing RocksDB
    checkpoint replays every (batch, key) state transition — an update
    row per key per batch carrying the NEW cumulative count (every
    100-id batch touches all 7 residues, so 7 keys x 4 batches = 28
    transitions). The changelog is also the scale lever: commit uploads
    become O(keys changed this batch) instead of O(total state).
    change_type is part of the result so the oracle pins the contract
    that a blind-append count stream never deletes. Probed Spark 4.1.2
    (2026-08-15); like q290's snapshot read, the changelog reader
    resolves the provider from the checkpoint — no session conf."""
    ckpt = _run_mod_count_stream(
        spark, "changefeed", mod=7, provider=_ROCKSDB_PROVIDER, changelog=True
    )
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    return feed.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("change_type").alias("change_type"),
        F.col("key.k").alias("k"),
        F.col("value.count").alias("cnt"),
    )


_Q292_ORACLE = """
WITH batches AS (SELECT range AS b FROM range(4)),
     ids AS (SELECT range AS id FROM range(400))
SELECT b AS batch_id, id % 9 AS k, CAST(COUNT(*) AS BIGINT) AS cnt
FROM batches JOIN ids ON id < (b + 1) * 100
GROUP BY 1, 2
"""


@register(
    "q292_state_time_travel",
    oracle=_Q292_ORACLE,
    tags=("streaming", "statestore", "timetravel", "ops"),
)
def q292_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State AS OF batch k: the statestore source's batchId option
    reconstructs each retained snapshot version on the default
    HDFS-backed provider, so one query returns the operator's entire
    knowledge HISTORY — cumulative counts over exactly the id-prefix
    delivered by batches 0..k (4 batches x 9 residues = 36 rows).
    Complements q291: snapshot-per-version on the heap-backed store vs
    delta-per-version on the RocksDB changelog. Retention bound:
    minBatchesToRetain (default 100) >= the 4 versions read here.
    Probed Spark 4.1.2 (2026-08-15)."""
    ckpt = _run_mod_count_stream(spark, "timetravel", mod=9)
    parts = []
    for b in range(4):
        state = (
            spark.read.format("statestore").option("batchId", b).load(ckpt)
        )
        parts.append(
            state.select(
                F.lit(b).cast("long").alias("batch_id"),
                F.col("key.k").alias("k"),
                F.col("value.count").alias("cnt"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q296: state-metadata operator TOPOLOGY — the catalog face of the
# statestore matrix. Every introspection leg so far (q273/q279/q280/
# q285/q288/q290-q292) attached to a store it already knew; the
# state-metadata source answers the PRIOR question an operator reading
# an unfamiliar checkpoint must ask first: WHICH stateful operators
# live here, under what operatorId/storeName, over which batch range —
# the values the statestore source's operatorId/storeName/batchId
# options take. Here a chained stateful query (two windowed
# aggregations in one plan, q144's multi-stateful feature) writes TWO
# stateStoreSave operators into one checkpoint; the metadata lists
# both, ids 0 and 1, batches 0..3 (4 one-file micro-batches; no
# trailing no-data batch on this build — probed Spark 4.1.2,
# 2026-08-15, re-probe on upgrade). Oracle: the literal topology.
# ---------------------------------------------------------------------------

_Q296_ORACLE = """
SELECT CAST(operator_id AS BIGINT) AS operator_id,
       operator_name, store_name,
       CAST(num_partitions AS INTEGER) AS num_partitions,
       CAST(min_batch_id AS BIGINT) AS min_batch_id,
       CAST(max_batch_id AS BIGINT) AS max_batch_id
FROM (VALUES
  (0, 'stateStoreSave', 'default', 8, 0, 3),
  (1, 'stateStoreSave', 'default', 8, 0, 3)
) AS t(operator_id, operator_name, store_name,
       num_partitions, min_batch_id, max_batch_id)
"""


@register(
    "q296_state_metadata_topology",
    oracle=_Q296_ORACLE,
    tags=("streaming", "statestore", "metadata", "ops"),
)
def q296_state_metadata_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", "statemeta_topology_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    d = _ensure_outer_join_fixture()
    st = (
        spark.readStream.schema("id bigint, ets bigint, kind string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    base = (
        st.filter(F.col("kind") == "a")
        .select(
            F.timestamp_seconds(F.lit(_OJ_BASE) + F.col("ets")).alias("ts"),
            (F.col("id") % 5).alias("k"),
        )
        .withWatermark("ts", f"{_OJ_WM} seconds")
    )
    fine = base.groupBy(F.window("ts", "100 seconds"), "k").agg(
        F.count(F.lit(1)).alias("n")
    )
    coarse = (
        fine.select(F.col("window.start").alias("ws"), "k", "n")
        .withWatermark("ws", f"{_OJ_WM} seconds")
        .groupBy(F.window("ws", "200 seconds"), "k")
        .agg(F.sum("n").alias("n2"))
    )
    run_available_now(
        spark,
        coarse.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt),
    )
    meta = spark.read.format("state-metadata").load(ckpt)
    return meta.select(
        F.col("operatorId").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("store_name"),
        F.col("numPartitions").alias("num_partitions"),
        F.col("minBatchId").alias("min_batch_id"),
        F.col("maxBatchId").alias("max_batch_id"),
    )


# ---------------------------------------------------------------------------
# q297: snapshot + changelog state reconstruction — the read path that
# makes q291's changelogs a complete story. With changelog
# checkpointing, a version's full snapshot (.zip) is uploaded by the
# provider's MAINTENANCE thread, not per-commit; reconstructing
# version N therefore means: load the newest snapshot <= N, replay
# changelogs up to N — exactly what snapshotStartBatchId does, and
# exactly how a RocksDB store restarts at scale without re-reading
# O(state) per trigger. Probed Spark 4.1.2 (2026-08-15):
#   - snapshotStartBatchId=b requires state/<op>/<part>/<b+1>.zip; a
#     short availableNow run uploads NO zips (maintenance defaults:
#     interval 60s, minDeltasForSnapshot 30) — CANNOT_LOAD_STATE_STORE
#     / FileNotFoundException without the tuned confs below.
#   - WHICH versions get snapshots is a race against maintenance, so
#     determinism comes from staging input in two phases: batch 0
#     alone stays the LATEST version until its snapshot provably
#     lands (polled), then the rest streams in.
#   - snapshotStartBatchId reads ONE partition (snapshotPartitionId is
#     mandatory with it), so the stream runs with ONE shuffle
#     partition and partition 0 holds every key.
# The registered result — final counts reconstructed from snapshot 1 +
# changelogs 2..4 — equals the plain read (companion test pins that),
# and the oracle is the same closed form as the direct legs.
#
# Backend asymmetry (probed Spark 4.1.2, 2026-08-15, re-confirmed r10):
# snapshotStartBatchId is RocksDB+changelog ONLY — on an HDFS-backed
# checkpoint the same read raises CANNOT_LOAD_STATE_STORE (the HDFS
# provider keeps .delta/.snapshot files, not the <v>.zip layout this
# option resolves). Pinned in
# tests/test_streaming.py::test_snapshot_start_batch_id_requires_rocksdb.
#
# Hardening (r10, after one load-induced flake in the r9 full-suite run):
# the 250ms trigger + 500ms maintenance interval + 60s poll ceiling was
# not starvation-proof on this ~19-effective-core box under a concurrent
# full-registry replay. Two fixes: (1) after changelog 4 appears we ALSO
# poll the checkpoint's commit log for batch 3 before q.stop() — the
# changelog uploads during the state commit, which precedes the
# commit-log entry, so stopping inside that window left batch 3
# uncommitted and the batchId=3 read short; (2) the whole two-phase run
# retries ONCE from a cleared checkpoint on poll timeout (the fixture is
# cheap; a second 60s budget under transient contention beats failing).
# ---------------------------------------------------------------------------

_Q297_ORACLE = """
WITH ids AS (SELECT range AS id FROM range(400))
SELECT id % 13 AS k, CAST(COUNT(*) AS BIGINT) AS cnt
FROM ids
GROUP BY 1
"""


def _poll_until(pred, timeout_s: float, what: str) -> None:
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return
        time.sleep(0.25)
    raise RuntimeError(f"q297 probe timed out after {timeout_s}s waiting for {what}")


@register(
    "q297_state_snapshot_replay",
    oracle=_Q297_ORACLE,
    tags=("streaming", "statestore", "rocksdb", "snapshot", "ops"),
)
def q297_state_snapshot_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = scratch_path("stream", "snapshot_replay_ckpt")
    src = scratch_path("stream", "snapshot_replay_src")
    fixture = _ensure_outer_join_fixture()
    confs = {
        "spark.sql.shuffle.partitions": "1",  # partition 0 holds all keys
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.sql.streaming.stateStore.minDeltasForSnapshot": "1",
        "spark.sql.streaming.stateStore.maintenanceInterval": "500ms",
    }

    def run_two_phase() -> None:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        copy_batches(fixture, src, [0], _OJ_BASE)  # phase 1: version 1 stays latest
        snap1 = os.path.join(ckpt, "state", "0", "0", "1.zip")
        st = (
            spark.readStream.schema("id bigint, ets bigint, kind string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            st.filter(F.col("kind") == "a")
            .select((F.col("id") % 13).alias("k"))
            .groupBy("k")
            .count()
        )
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            _poll_until(lambda: os.path.exists(snap1), 60, "snapshot 1.zip")
            # phase 2: the rest of the fixture; version 4's changelog
            # marks batch 3 (ids 100..399) committed
            copy_batches(fixture, src, [1, 2, 3], _OJ_BASE)
            chlog4 = os.path.join(ckpt, "state", "0", "0", "4.changelog")
            _poll_until(lambda: os.path.exists(chlog4), 60, "changelog 4")
            # the changelog uploads DURING the state commit, before the
            # commit-log entry lands; gate stop() on commits/3 so the
            # final batch can't be left uncommitted (ADVICE r9)
            commit3 = os.path.join(ckpt, "commits", "3")
            _poll_until(lambda: os.path.exists(commit3), 60, "commit log 3")
        finally:
            q.stop()
            q.awaitTermination()

    with conf_scope(spark, confs):
        try:
            run_two_phase()
        except RuntimeError:
            # one self-healing retry from a cleared checkpoint: the 60s
            # poll ceilings are not starvation-proof under concurrent
            # full-registry load on this host (observed once, r9)
            run_two_phase()
    state = (
        spark.read.format("statestore")
        .option("snapshotStartBatchId", 0)  # load snapshot version 1...
        .option("snapshotPartitionId", 0)
        .option("batchId", 3)  # ...then replay changelogs 2..4
        .load(ckpt)
    )
    return state.select(
        F.col("key.k").alias("k"), F.col("value.count").alias("cnt")
    )


# ---------------------------------------------------------------------------
# q298: constructive state REPARTITIONING — the operational job the
# statestore matrix (q273/q279/q280/q285/q288 reads, q290 backend, q291
# change feed, q292 time travel, q296 topology) opens but none of them
# closes. The contract it fixes is test-pinned (tests/test_streaming.py::
# test_checkpoint_pins_shuffle_partitions_across_restarts): a stateful
# checkpoint pins spark.sql.shuffle.partitions at FIRST write; restarting
# under a different conf is silently ignored — day-one sizing sticks.
# Public PySpark has no state-bootstrap API for aggregation state, so the
# only sound rescale is REBUILD, DON'T MUTATE: replay the retained input
# into a FRESH checkpoint under the new partition count, verify the new
# state matches the old byte-for-value, then cut the job over. Cost = one
# input replay (bounded by the source's retention, not by wall-clock
# history) — at 100 TB that is a planned backfill, vs the alternative of
# hand-rewriting RocksDB SST files that no public API sanctions.
# The registered result carries BOTH faces per key (cnt_original from the
# 8-partition store, cnt_rebuilt from the 16-partition rebuild) plus the
# measured state-metadata partition counts, so the driver's value check
# IS the rebuild-equivalence proof; the oracle replays the closed form
# and the expected 8 -> 16 scaling as literals (the q158/q97
# calibration-gate shape). Companion pin in tests/test_streaming.py.
# ---------------------------------------------------------------------------

_Q298_ORACLE = f"""
WITH ids AS (SELECT range AS id FROM range({_OJ_N}))
SELECT id % 7 AS k,
       CAST(COUNT(*) AS BIGINT) AS cnt_original,
       CAST(COUNT(*) AS BIGINT) AS cnt_rebuilt,
       CAST(8 AS INT) AS parts_original,
       CAST(16 AS INT) AS parts_rebuilt
FROM ids
GROUP BY 1
"""


@register(
    "q298_state_repartition_rebuild",
    oracle=_Q298_ORACLE,
    tags=("streaming", "statestore", "repartition", "ops"),
)
def q298_state_repartition_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = scratch_path("stream", "repart_rebuild_src")
    ckpt_a = scratch_path("stream", "repart_rebuild_ckpt8")
    ckpt_b = scratch_path("stream", "repart_rebuild_ckpt16")
    for d in (src, ckpt_a, ckpt_b):
        shutil.rmtree(d, ignore_errors=True)
    copy_batches(_ensure_outer_join_fixture(), src, range(4), _OJ_BASE)

    def run(parts: int, ckpt: str) -> None:
        st = (
            spark.readStream.schema("id bigint, ets bigint, kind string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            st.filter(F.col("kind") == "a")
            .select((F.col("id") % 7).alias("k"))
            .groupBy("k")
            .count()
        )
        run_available_now(
            spark,
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt),
            partitions=parts,
        )

    run(8, ckpt_a)  # day-one sizing: the checkpoint pins 8 partitions
    run(16, ckpt_b)  # the rebuild: same input replayed under the new conf
    orig = (
        spark.read.format("statestore").load(ckpt_a)
        .select(F.col("key.k").alias("k"), F.col("value.count").alias("cnt_original"))
    )
    rebuilt = (
        spark.read.format("statestore").load(ckpt_b)
        .select(F.col("key.k").alias("k"), F.col("value.count").alias("cnt_rebuilt"))
    )
    parts_a = (
        spark.read.format("state-metadata").load(ckpt_a)
        .select(F.col("numPartitions").cast("int").alias("parts_original"))
    )
    parts_b = (
        spark.read.format("state-metadata").load(ckpt_b)
        .select(F.col("numPartitions").cast("int").alias("parts_rebuilt"))
    )
    # metadata sides are exactly one row each (single stateful operator
    # per checkpoint), so the cross joins are scalar annotations
    return (
        orig.join(rebuilt, "k")
        .crossJoin(parts_a)
        .crossJoin(parts_b)
        .select("k", "cnt_original", "cnt_rebuilt", "parts_original", "parts_rebuilt")
    )


# ---------------------------------------------------------------------------
# q323: MULTIPLE-WATERMARK POLICY — the query-level watermark contract
# when ONE stateful query consumes SEVERAL watermarked inputs (a union
# or join of streams with different lateness SLAs): each branch keeps
# its own per-source watermark, and spark.sql.streaming.
# multipleWatermarkPolicy picks the GLOBAL one — ``min`` (default,
# safe: nothing is late until the SLOWEST source says so) vs ``max``
# (aggressive: state bounded by the FASTEST source, slow-source
# stragglers dropped). At 100 TB this is the knob that decides whether
# a lagging Kafka partition holds ALL state hostage (min) or gets its
# tail silently discarded (max) — q323 pins the trade visibly: the
# same 3-batch two-source fixture run under BOTH policies, with one
# straggler window that survives min and is dropped by max.
#
# Fixture geometry (all constants chosen to avoid <=-vs-< boundary
# equality, the q119 rule): source A delay 60s, source B delay 600s;
# batch 0 sets wm_a=600 / wm_b=900 (global min=600, max=900); batch 1
# deliberately advances NEITHER watermark (so q119's lag-1-vs-lag-2
# late-filter ambiguity cannot bite — both lags see the batch-0
# global); batch 2 carries the straggler (window end rel 760: kept
# under min since 760 > 600, dropped under max since 760 <= 900) and
# the final clocks (wm_a=3540, wm_b=3000 — every surviving window end
# <= 1540 closes under both, the 3600-clock windows close under
# neither). Probed on 4.1.2 (2026-08-16): min emits 6 windows, max 5.
#
# Oracle: the q119-style relational simulation generalized to multiple
# sources — per-source cumulative-max watermarks from the same VALUES
# rows the fixture writes, a 2-row policy spine, the lag-2 late filter
# against the POLICY-combined global, final emission end <= final
# global.
# ---------------------------------------------------------------------------

_MW_BASE = 1700000000
_MW_ROWS = (  # (src, batch, event_rel_s, id)
    ("a", 0, 30, 1), ("a", 0, 30, 2), ("a", 0, 30, 3), ("a", 0, 660, 9),
    ("a", 1, 650, 50),
    ("a", 2, 730, 60), ("a", 2, 3600, 99),
    ("b", 0, 40, 101), ("b", 0, 40, 102), ("b", 0, 1500, 109),
    ("b", 1, 1210, 150),
    ("b", 2, 3600, 199),
)
_MW_DELAYS = {"a": 60, "b": 600}
_MW_WIN = 60

_Q323_ORACLE = f"""
WITH inp(src, b, e, id) AS (
  VALUES {", ".join(f"('{s}', {b}, {e}, {i})" for s, b, e, i in _MW_ROWS)}
),
delays(src, delay) AS (VALUES ('a', {_MW_DELAYS['a']}), ('b', {_MW_DELAYS['b']})),
pol(policy) AS (VALUES ('min'), ('max')),
bm AS (
  SELECT i.src, i.b, MAX(i.e) AS mx FROM inp i GROUP BY 1, 2
),
src_wm AS (
  SELECT bm.src, bm.b,
         MAX(bm.mx) OVER (PARTITION BY bm.src ORDER BY bm.b
                          ROWS UNBOUNDED PRECEDING) - d.delay AS wm
  FROM bm JOIN delays d ON d.src = bm.src
),
gwms AS (
  SELECT p.policy, w.b,
         CASE WHEN p.policy = 'min' THEN MIN(w.wm) ELSE MAX(w.wm) END AS gwm
  FROM src_wm w CROSS JOIN pol p GROUP BY 1, 2
),
placed AS (
  SELECT src, b, e, id,
         (({_MW_BASE} + e) // {_MW_WIN}) * {_MW_WIN} AS ws
  FROM inp
),
kept AS (
  SELECT pl.*, p.policy FROM placed pl CROSS JOIN pol p
  LEFT JOIN gwms g ON g.policy = p.policy AND g.b = pl.b - 2
  WHERE g.b IS NULL OR pl.ws + {_MW_WIN} > {_MW_BASE} + g.gwm
),
fin AS (
  SELECT policy, gwm AS fwm FROM gwms
  WHERE b = (SELECT MAX(b) FROM inp)
)
SELECT k.policy,
       CAST(k.ws - {_MW_BASE} AS BIGINT) AS win_start_rel,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k.id) AS BIGINT) AS sum_id
FROM kept k JOIN fin f ON f.policy = k.policy
WHERE k.ws + {_MW_WIN} <= {_MW_BASE} + f.fwm
GROUP BY 1, 2
"""


def _mw_tables(src: str):
    """Source ``src``'s 3 batches of (e, id) from _MW_ROWS."""
    import pyarrow as pa

    for bi in range(3):
        rows = [(e, i) for s, b, e, i in _MW_ROWS if s == src and b == bi]
        yield pa.table(
            {
                "e": pa.array([r[0] for r in rows], pa.int64()),
                "id": pa.array([r[1] for r in rows], pa.int64()),
            }
        )


def _ensure_mw_fixture() -> tuple[str, str]:
    """The two per-source batch-file directories (one file per source
    per batch under maxFilesPerTrigger=1)."""

    def build(root: str) -> None:
        for src in ("a", "b"):
            batch_files(os.path.join(root, src), _mw_tables(src), _MW_BASE)

    root = built_once("stream", "mwpolicy", build=build)
    return os.path.join(root, "a"), os.path.join(root, "b")


@register(
    "q323_multi_watermark_policy",
    oracle=_Q323_ORACLE,
    tags=("streaming", "watermark", "policy", "union"),
)
def q323_multi_watermark_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    a_dir, b_dir = _ensure_mw_fixture()
    run_dir = fresh_dir("mwpolicy_runs", prefix="run")

    results = None
    for policy in ("min", "max"):
        sink, _ = _run_mw_stream(spark, policy, run_dir, a_dir, b_dir)
        part = spark.read.parquet(sink).select(
            F.lit(policy).alias("policy"),
            "win_start_rel",
            "n_events",
            "sum_id",
        )
        results = part if results is None else results.unionByName(part)
    return results


def _run_mw_stream(
    spark: SparkSession, policy: str, run_dir: str, a_dir: str, b_dir: str
) -> tuple[str, str]:
    """Run the two-source union window count under ``policy`` into a
    fresh (sink, checkpoint) pair under run_dir; returns both paths.
    Shared by q323 (result faces) and q325 (offset-log forensics)."""
    sink = os.path.join(run_dir, f"sink_{policy}")
    ckpt = os.path.join(run_dir, f"ckpt_{policy}")
    sa = (
        spark.readStream.schema("e bigint, id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(a_dir)
        .select(
            F.timestamp_seconds(F.lit(_MW_BASE) + F.col("e")).alias("ts"),
            "id",
        )
        .withWatermark("ts", f"{_MW_DELAYS['a']} seconds")
    )
    sb = (
        spark.readStream.schema("e bigint, id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(b_dir)
        .select(
            F.timestamp_seconds(F.lit(_MW_BASE) + F.col("e")).alias("ts"),
            "id",
        )
        .withWatermark("ts", f"{_MW_DELAYS['b']} seconds")
    )
    agg = (
        sa.unionByName(sb)
        .groupBy(F.window("ts", f"{_MW_WIN} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("id").alias("sum_id"))
    )
    policy_conf = {"spark.sql.streaming.multipleWatermarkPolicy": policy}
    writer = (
        agg.select(
            (F.unix_timestamp("w.start") - F.lit(_MW_BASE)).alias("win_start_rel"),
            "n_events",
            "sum_id",
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    with conf_scope(spark, policy_conf):
        run_available_now(spark, writer)
    return sink, ckpt


# ---------------------------------------------------------------------------
# q325: checkpoint OFFSET-LOG forensics — the third leg of checkpoint
# introspection (q296 = which stateful operators/stores; q292 = what
# the state held per version; this = what each BATCH planned): the
# offsets/<b> write-ahead entry records the GLOBAL watermark the batch
# was planned with (batchWatermarkMs), one source-offset line per
# input, and the query confs pinned at first run; commits/<b> records
# completion. This is what an on-call engineer reads when a stream
# "stopped emitting": did the watermark advance, did the batch commit,
# which policy is the checkpoint actually pinned to. Probed on 4.1.2
# (2026-08-16) against the q323 min-policy run: batchWatermarkMs(b) ==
# the PREVIOUS batch's combined watermark (the q119 lag made concrete
# in the log: planning reads the wm committed by batch b-1), batch 0
# plans with 0 ("no watermark", emitted as -1 here), and availableNow
# appends one final no-data batch that plans with the final watermark
# and closes the remaining windows.
#
# The files are kilobyte JSON metadata, so the driver-side read is the
# sanctioned metadata collect (manifest-list convention). Oracle: the
# q323 relational simulation shifted by one batch (planned(b) =
# global_min(b-1)), with the final no-data batch appended.
# ---------------------------------------------------------------------------

_Q325_ORACLE = f"""
WITH inp(src, b, e, id) AS (
  VALUES {", ".join(f"('{s}', {b}, {e}, {i})" for s, b, e, i in _MW_ROWS)}
),
delays(src, delay) AS (VALUES ('a', {_MW_DELAYS['a']}), ('b', {_MW_DELAYS['b']})),
bm AS (SELECT i.src, i.b, MAX(i.e) AS mx FROM inp i GROUP BY 1, 2),
src_wm AS (
  SELECT bm.src, bm.b,
         MAX(bm.mx) OVER (PARTITION BY bm.src ORDER BY bm.b
                          ROWS UNBOUNDED PRECEDING) - d.delay AS wm
  FROM bm JOIN delays d ON d.src = bm.src
),
gmin AS (SELECT b, MIN(wm) AS gwm FROM src_wm GROUP BY b),
batches(batch_id) AS (VALUES (0), (1), (2), (3))
SELECT CAST(t.batch_id AS BIGINT) AS batch_id,
       CAST(COALESCE(g.gwm, -1) AS BIGINT) AS planned_wm_rel,
       CAST(2 AS BIGINT) AS n_sources,
       TRUE AS committed,
       'min' AS policy
FROM batches t LEFT JOIN gmin g ON g.b = t.batch_id - 1
"""


@register(
    "q325_checkpoint_offset_audit",
    oracle=_Q325_ORACLE,
    tags=("streaming", "checkpoint", "ops", "forensics"),
)
def q325_checkpoint_offset_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    a_dir, b_dir = _ensure_mw_fixture()
    run_dir = fresh_dir("mwaudit_runs", prefix="run")

    _, ckpt = _run_mw_stream(spark, "min", run_dir, a_dir, b_dir)

    rows = []
    off_dir = os.path.join(ckpt, "offsets")
    entries = [n for n in os.listdir(off_dir) if n.isdigit()]  # skip .crc
    for name in sorted(entries, key=int):
        with open(os.path.join(off_dir, name), encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        meta = json.loads(lines[1])  # line 0 is the version tag "v1"
        wm_ms = int(meta["batchWatermarkMs"])
        rows.append(
            {
                "batch_id": int(name),
                "planned_wm_rel": (wm_ms // 1000 - _MW_BASE) if wm_ms > 0 else -1,
                "n_sources": len(lines) - 2,  # one offset line per source
                "committed": os.path.exists(
                    os.path.join(ckpt, "commits", name)
                ),
                "policy": meta["conf"]["spark.sql.streaming.multipleWatermarkPolicy"],
            }
        )
    return spark.createDataFrame(rows).select(
        F.col("batch_id").cast("bigint"),
        F.col("planned_wm_rel").cast("bigint"),
        F.col("n_sources").cast("bigint"),
        "committed",
        "policy",
    )


# ---------------------------------------------------------------------------
# q332: applyInPandasWithState EVENT-TIME TIMEOUT — the state-eviction
# face q55 leaves unexercised (its sessionizer runs NoTimeout and closes
# sessions only when a LATER event for the same key arrives; a key that
# goes silent forever holds state forever and never emits). With
# GroupStateTimeout.EventTimeTimeout the function is re-invoked with
# ``state.hasTimedOut`` (and no rows) once the query watermark passes
# the key's registered timeout timestamp — the mechanism that bounds
# state for abandoned keys at 100 TB-stream scale and the only way an
# applyInPandasWithState pipeline emits "session closed by inactivity".
#
# Deterministic fixture (no wall clock anywhere): batch_0 delivers ids
# 0..99 as keys k=id%7 with ets=BASE+id; batches 1..2 deliver only a
# CLOCK key (k=99) whose high ets advances the watermark. Each data key
# registers timeout = its max ets + 30s (<= BASE+129). Watermark after
# batch 1 (clock ets BASE+500, delay 10s) = BASE+490 > every timeout,
# so batch 2's processing fires hasTimedOut for all 7 data keys — each
# emits (k, n_events, 'timeout') and removes its state. The clock key
# itself re-registers a timeout the stream ends before reaching, so it
# never emits: the result is EXACTLY the 7 closed-by-inactivity rows,
# closed-form replayable (n = |{id < 100 : id%7 = k}|).
#
# Timing contract pinned here, not assumed: timeouts fire when the
# PREVIOUS batch's watermark exceeds the registered timestamp, so the
# fixture needs batch 2 to exist at all — with only batches 0..1 the
# watermark that clears the timeouts is computed as batch 1 ENDS and
# no later batch runs the eviction. (Same one-batch lag as q119/q325.)
# ---------------------------------------------------------------------------

_Q332_ORACLE = """
WITH ids AS (SELECT range AS id FROM range(100))
SELECT id % 7 AS k, CAST(COUNT(*) AS BIGINT) AS n_events,
       'timeout' AS closed_by
FROM ids
GROUP BY 1
"""

_ETT_BASE = 1700000000
_ETT_GAP_S = 30
_ETT_CLOCK_KEY = 99


def _event_timeout_tables():
    """q332's batches of (k, ets): the data keys, then two clock rows."""
    import pyarrow as pa

    batches = [
        [(i % 7, _ETT_BASE + i) for i in range(100)],
        [(_ETT_CLOCK_KEY, _ETT_BASE + 500)],
        [(_ETT_CLOCK_KEY, _ETT_BASE + 1000)],
    ]
    for rows in batches:
        yield pa.table(
            {
                "k": pa.array([r[0] for r in rows], type=pa.int64()),
                "ets": pa.array([r[1] for r in rows], type=pa.int64()),
            }
        )


@register(
    "q332_state_event_time_timeout",
    oracle=_Q332_ORACLE,
    tags=("streaming", "state", "timeout", "python"),
)
def q332_state_event_time_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _batch_dir("event_timeout", _event_timeout_tables, _ETT_BASE)

    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", LongType())]
    )
    out_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("n_events", LongType()),
            StructField("closed_by", StringType()),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        (k,) = key
        if state.hasTimedOut:
            n, _mx = state.get
            state.remove()
            yield pd.DataFrame(
                {"k": [k], "n_events": [n], "closed_by": ["timeout"]}
            )
            return
        events = pd.concat(list(pdf_iter))
        n_new = int(len(events))
        mx_new = int(events["ets"].max())
        if state.exists:
            n_old, mx_old = state.get
            n_new += int(n_old)
            mx_new = max(mx_new, int(mx_old))
        state.update((n_new, mx_new))
        # inactivity deadline: last seen event time + gap, in epoch ms
        state.setTimeoutTimestamp((mx_new + _ETT_GAP_S) * 1000)
        return
        yield  # pragma: no cover — generator form required by the API

    st = (
        spark.readStream.schema("k bigint, ets bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("k", "ets", F.timestamp_seconds("ets").alias("ets_ts"))
        .withWatermark("ets_ts", "10 seconds")
    )
    out = st.groupBy("k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_stream_to_memory(spark, out, output_mode="append")
