"""Structured Streaming tests: batch/stream parity, watermarked append
mode, and stateful sessionization (batch twin + applyInPandasWithState)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
from brazilian_e_commerce_data_pipeline_analytics_spark.scratch import scratch_path, sf_key
from brazilian_e_commerce_data_pipeline_analytics_spark.session import conf_scope
from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
    _events_stream,
    copy_batches,
    hourly_agg,
    hourly_agg_watermarked,
    run_available_now,
    run_stream_to_memory,
    sessionize_batch,
)

from .conftest import SF_SMALL


def test_stream_batch_parity(spark):
    """The streaming hourly aggregation equals the batch answer exactly."""
    batch = hourly_agg(load_table(spark, SF_SMALL, "events"))
    batch_rows = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    stream_rows = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_stream_to_memory(
            spark, hourly_agg(_events_stream(spark, SF_SMALL))
        ).collect()
    }
    assert batch_rows == stream_rows


def test_watermarked_append_drops_nothing_in_one_batch(spark):
    """availableNow + 2h watermark over historical data: append mode emits
    only windows the watermark has passed — all but the tail hour(s)."""
    result = run_stream_to_memory(
        spark,
        hourly_agg_watermarked(_events_stream(spark, SF_SMALL)),
        output_mode="append",
    )
    batch = hourly_agg(load_table(spark, SF_SMALL, "events"))
    n_stream, n_batch = result.count(), batch.count()
    assert 0 < n_stream <= n_batch
    # emitted rows match their batch counterparts
    b = {
        (r["hour_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    for r in result.collect():
        assert b[(r["hour_start"], r["event_type"])] == r["n_events"]


def test_sessionize_batch(spark):
    rows = [
        Row(user_id=1, event_id=1, ts="2024-01-01 10:00:00", event_type="view"),
        Row(user_id=1, event_id=2, ts="2024-01-01 10:10:00", event_type="click"),
        Row(user_id=1, event_id=3, ts="2024-01-01 12:00:00", event_type="view"),
        Row(user_id=2, event_id=4, ts="2024-01-01 09:00:00", event_type="signup"),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = sessionize_batch(df, gap_minutes=30).collect()
    by_user = {}
    for s in sessions:
        by_user.setdefault(s["user_id"], []).append(s)
    assert len(by_user[1]) == 2  # 2h gap splits the first user's events
    first = min(by_user[1], key=lambda s: s["session_start"])
    assert first["n_events"] == 2 and first["event_types"] == "click,view"
    assert len(by_user[2]) == 1


def test_sessionize_stateful_runs(spark, tmp_path):
    """applyInPandasWithState sessionization over a real stream; closed
    sessions match the batch twin for the same gap."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import sessionize_stateful

    stream = _events_stream(spark, SF_SMALL)
    out = run_stream_to_memory(
        spark, sessionize_stateful(stream, gap_minutes=120), output_mode="append"
    )
    closed = out.collect()
    # state holds the final open session per user, so closed-session count
    # equals batch sessions minus one per user
    ev = load_table(spark, SF_SMALL, "events")
    batch = sessionize_batch(ev, gap_minutes=120)
    n_users = ev.select("user_id").distinct().count()
    assert len(closed) == batch.count() - n_users


def test_checkpoint_incremental_exactly_once(spark, tmp_path):
    """File-source + checkpoint = exactly-once incremental processing:
    a restarted availableNow run processes ONLY files that arrived since
    the last checkpoint — no reprocessing, no duplicates in the sink."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    events = "/root/testdata/sf0.001/events.parquet"
    base = spark.read.parquet(events).count()

    shutil.copy(events, src / "a.parquet")
    schema = spark.read.parquet(str(src)).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_available_now(
            spark,
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    run_once()
    assert spark.read.parquet(out).count() == base
    # second batch of files arrives; restart from the same checkpoint
    shutil.copy(events, src / "b.parquet")
    run_once()
    assert spark.read.parquet(out).count() == 2 * base
    # and a restart with NO new files must be a no-op
    run_once()
    assert spark.read.parquet(out).count() == 2 * base


def test_late_drop_stream_actually_drops(spark):
    """q119 non-vacuity: the watermark must have DROPPED late rows —
    the emitted totals must be strictly below a no-drop replay of the
    same generator (otherwise the query proves nothing about late-data
    semantics)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _LATE_B,
        _LATE_BASE,
        _LATE_DELAY,
        _LATE_N,
        _LATE_SHIFT,
        _LATE_WIN,
    )

    out = all_queries()["q119_stream_late_drop"].builder(spark, "/root/testdata/sf0.001")
    emitted = {r["win_start_s"]: r["n_events"] for r in out.collect()}

    # no-drop replay: every row lands in its window; emit windows closed
    # by the final watermark
    state: dict[int, int] = {}
    final_wm = None
    for i in range(_LATE_N):
        e = i - _LATE_SHIFT if i % 7 == 3 else i
        ws = ((_LATE_BASE + e) // _LATE_WIN) * _LATE_WIN
        state[ws] = state.get(ws, 0) + 1
        final_wm = e - _LATE_DELAY if final_wm is None else max(final_wm, e - _LATE_DELAY)
    nodrop = {
        ws: n for ws, n in state.items() if ws + _LATE_WIN <= _LATE_BASE + final_wm
    }
    assert set(emitted) == set(nodrop)  # same emitted windows either way
    assert sum(emitted.values()) < sum(nodrop.values())  # rows WERE dropped


def test_rocksdb_state_store_matches_default(spark):
    """The scale-grade state backend: at 100 TB streaming state must
    live in RocksDB (spillable, incremental-checkpoint), not the
    default in-memory HDFS-backed store. Spark bundles the provider;
    pin that this repo's stateful pipelines run on it and produce
    byte-identical results to the default store."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    q = all_queries()["q53_stream_hourly"]
    base = sorted(map(str, q.builder(spark, "/root/testdata/sf0.001").collect()))
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }
    with conf_scope(spark, rocksdb):
        rocks = sorted(map(str, q.builder(spark, "/root/testdata/sf0.001").collect()))
    assert rocks == base


def test_late_drop_stream_deterministic_across_runs(spark):
    """q119 re-run in the same session must reproduce identical rows —
    the fixture mtimes fix the micro-batch order and the memory-sink run
    uses a fresh checkpoint per call, so the whole watermark simulation is
    replayable (this is what lets the driver hash-compare it)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    q = all_queries()["q119_stream_late_drop"]
    a = sorted(map(str, q.builder(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(str, q.builder(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_stateful_sessionizer_state_survives_restart(spark, tmp_path):
    """Exactly-once stateful restart: the applyInPandasWithState
    sessionizer's open-session state must persist in the checkpoint
    across separate availableNow runs — the second run closes a session
    OPENED by the first run. Without restored state the closing event
    would emit nothing (it has no session to close)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import sessionize_stateful

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    base = 1_700_000_000

    def write_file(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [(base + r[1]) * 1_000_000 for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array([r[2] for r in rows], pa.string()),
                }
            ),
            str(src / name),
        )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_available_now(
            spark,
            sessionize_stateful(stream, gap_minutes=30)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    # run 1: session A (0s, 10s) closed by the event at 5000s, which
    # itself OPENS session B — B's state lives only in the checkpoint
    write_file("a.parquet", [(1, 0, "view"), (2, 10, "click"), (3, 5000, "view")])
    run()
    rows1 = spark.read.parquet(out).collect()
    assert len(rows1) == 1 and rows1[0]["n_events"] == 2

    # run 2: a single far-future event must CLOSE session B — provable
    # only if run 1's open-session state was restored
    write_file("b.parquet", [(4, 10_000, "purchase")])
    run()
    rows2 = sorted(spark.read.parquet(out).collect(), key=lambda r: r["session_start"])
    assert len(rows2) == 2
    assert rows2[1]["n_events"] == 1
    assert int(rows2[1]["session_start"].timestamp()) == base + 5000


def test_stream_incremental_dedup_crosses_batches(spark):
    """q135's accumulated index must catch dups whose FIRST occurrence
    landed in an earlier micro-batch — the within-batch window alone
    cannot produce those rows."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        q135_stream_incremental_dedup,
    )

    out = q135_stream_incremental_dedup(spark, "/root/testdata/sf0.001").collect()
    by_id = {r["doc_id"]: r for r in out}
    dups = [r for r in out if r["is_dup"]]
    assert dups, "corpus must contain BOW-fingerprint dups"
    cross = [
        r for r in dups if by_id[r["first_doc_id"]]["batch_no"] < r["batch_no"]
    ]
    assert cross, "expected at least one dup resolved via the persistent index"
    # every dup points at a non-dup first occurrence with the same fp
    for r in dups:
        first = by_id[r["first_doc_id"]]
        assert not first["is_dup"]
        assert first["fp"] == r["fp"]


def test_stream_outer_join_emits_nulls_and_withholds_open_tail(spark):
    """q138's three regimes must all be non-vacuous: inner matches,
    null-emission for watermark-expired unmatched rows, and the
    withheld tail whose join window was still open at stream end."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _OJ_N,
        _OJ_WIN,
        _OJ_WM,
        q138_stream_outer_join,
    )

    out = q138_stream_outer_join(spark, "/root/testdata/sf0.001").collect()
    matched = {r["a_id"] for r in out if r["matched"]}
    nulls = {r["a_id"] for r in out if not r["matched"]}
    assert matched == {i for i in range(_OJ_N) if i % 3 == 0}
    cutoff = (_OJ_N - 1) - _OJ_WM - _OJ_WIN
    assert nulls == {i for i in range(_OJ_N) if i % 3 and i < cutoff}
    # the withheld tail really exists (rows neither matched nor emitted)
    assert len(matched) + len(nulls) < _OJ_N
    for r in out:
        if r["matched"]:
            assert r["lag_seconds"] == 10
        else:
            assert r["lag_seconds"] is None


def test_dynamic_partition_overwrite_touches_only_changed(spark, tmp_path):
    """The primitive q245/q246's gold upsert rides: with
    partitionOverwriteMode=dynamic, an overwrite-mode write replaces ONLY
    the partitions present in the batch — untouched partition files stay
    byte-identical on disk (O(changed partitions) per micro-batch; a
    static overwrite would truncate the whole table)."""
    import os

    from pyspark.sql import Row

    gold = str(tmp_path / "gold")
    base = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="b", v=2), Row(k="c", v=3)]
    )
    base.write.partitionBy("k").parquet(gold)

    def files_with_mtime(part):
        d = os.path.join(gold, f"k={part}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_a = files_with_mtime("a")
    before_c = files_with_mtime("c")
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        spark.createDataFrame([Row(k="b", v=20)]).write.mode(
            "overwrite"
        ).partitionBy("k").parquet(gold)

    assert files_with_mtime("a") == before_a  # untouched partitions intact
    assert files_with_mtime("c") == before_c
    got = {(r["k"], r["v"]) for r in spark.read.parquet(gold).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3)}  # b replaced, not appended


def test_gold_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """VERDICT r6 item 3: pin the PRODUCTION upsert path q245/q246 run
    per micro-batch (streaming.jobs._dynamic_partition_upsert), not just
    the Spark primitive. Two simulated micro-batches: batch 2 touches
    one month only; every other month's partition dir must keep its
    original file list AND mtimes (the O(changed partitions) claim), and
    each touched dir must hold exactly ONE file (the writer-task
    alignment claim)."""
    import os

    from pyspark.sql import Row

    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _dynamic_partition_upsert,
    )

    gold = str(tmp_path / "gold")
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        batch1 = spark.createDataFrame(
            [
                Row(o_year=1995, o_month=m, revenue_dec=float(100 * m), n_orders=m)
                for m in (1, 2, 3)
            ]
        )
        _dynamic_partition_upsert(batch1, gold, ["o_year", "o_month"])

        def snapshot(y, m):
            d = os.path.join(gold, f"o_year={y}", f"o_month={m}")
            return sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )

        before = {m: snapshot(1995, m) for m in (1, 2, 3)}
        # writer tasks aligned to partition dirs: one file per dir even
        # though shuffle.partitions >> touched partitions
        assert all(len(v) == 1 for v in before.values())

        batch2 = spark.createDataFrame(
            [Row(o_year=1995, o_month=2, revenue_dec=999.0, n_orders=9)]
        )
        _dynamic_partition_upsert(batch2, gold, ["o_year", "o_month"])
        # empty batches are a no-op (update-mode triggers can be empty)
        _dynamic_partition_upsert(batch1.limit(0), gold, ["o_year", "o_month"])

        assert snapshot(1995, 1) == before[1]  # untouched: same files, same mtimes
        assert snapshot(1995, 3) == before[3]
        assert snapshot(1995, 2) != before[2]  # touched: rewritten
        assert len(snapshot(1995, 2)) == 1
        got = {
            (r["o_month"], r["revenue_dec"], r["n_orders"])
            for r in spark.read.parquet(gold).collect()
        }
        assert got == {(1, 100.0, 1), (2, 999.0, 9), (3, 300.0, 3)}


def test_state_metadata_source_describes_checkpoint(spark):
    """q273's companion: the `state-metadata` batch source exposes the
    checkpoint's operator inventory (operator/state-store names, batch
    range) — the first thing an on-call engineer lists before opening
    the state itself. Run q273 (which writes a fresh checkpoint), then
    assert the metadata names its aggregate operator."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    all_queries()["q273_statestore_introspection"].builder(spark, sf).collect()
    ckpt = scratch_path("stream", f"statestore_probe_{sf_key(sf)}")
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    ops = {r["operatorName"] for r in meta}
    assert "stateStoreSave" in ops
    row = next(r for r in meta if r["operatorName"] == "stateStoreSave")
    assert row["numPartitions"] == 8
    assert row["minBatchId"] == 0


def test_statestore_source_reads_join_state(spark, tmp_path):
    """Round-8 candidate de-risk: the statestore source also opens a
    stream-stream JOIN's four symmetricHashJoin stores (storeName
    option), and the RETAINED row counts match the watermark eviction
    arithmetic exactly — the introspection that explains join-state
    size on a production stream. ids 0..49, evens on the left (ts=id),
    odds right; condition right in [left, left+5], 10s watermarks.
    Final global watermark = min(48, 49) - 10 = 38; left rows retained
    iff a_ts + 5 >= 38 (evens 34..48 = 8), right iff b_ts >= 38
    (odds 39..49 = 6)."""
    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    spark.range(50).coalesce(1).select(
        F.col("id"),
        (F.col("id") % 2 == 0).alias("is_a"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    ).write.mode("overwrite").parquet(src)
    st = spark.readStream.schema("id bigint, is_a boolean, ts timestamp").parquet(src)
    a = (
        st.filter("is_a")
        .select(F.col("id").alias("a_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", "10 seconds")
    )
    b = (
        st.filter("NOT is_a")
        .select(F.col("id").alias("b_id"), F.col("ts").alias("b_ts"))
        .withWatermark("b_ts", "10 seconds")
    )
    j = a.join(
        b,
        (F.col("a_id") + 1 == F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 SECONDS")),
    )
    run_available_now(
        spark, j.writeStream.format("noop").option("checkpointLocation", ckpt)
    )

    meta = spark.read.format("state-metadata").load(ckpt)
    stores = {r["stateStoreName"] for r in meta.collect()}
    assert stores == {
        "left-keyToNumValues",
        "left-keyWithIndexToValue",
        "right-keyToNumValues",
        "right-keyWithIndexToValue",
    }
    counts = {
        side: spark.read.format("statestore")
        .option("storeName", f"{side}-keyWithIndexToValue")
        .load(ckpt)
        .count()
        for side in ("left", "right")
    }
    assert counts == {"left": 8, "right": 6}


def test_q280_session_state_metadata_and_retention(spark):
    """q280's companion pin: the checkpoint's state-metadata names the
    sessionWindowStateStoreSaveExec operator (the third store family of
    the introspection matrix, after q273's stateStoreSave and q279's
    symmetricHashJoin stores), and the retained inventory matches the
    closed form computed here from the fixture constants — exactly one
    open session per (user, run) whose end (last event + gap) is
    strictly after the final watermark (N-1) - WM."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _OJ_N,
        _OJ_WM,
        _SW_GAP,
        _SW_RUN,
        _SW_USERS,
    )

    from .conftest import SF_SMALL as sf

    got = {
        (r["user_id"], r["session_start_s"], r["session_end_s"], r["n_events"])
        for r in all_queries()["q280_session_state_introspection"]
        .builder(spark, sf)
        .collect()
    }
    wm = (_OJ_N - 1) - _OJ_WM
    run_span = _SW_RUN * _SW_USERS
    expected = set()
    for u in range(_SW_USERS):
        for m in range(_OJ_N // run_span):
            start = m * run_span + u * _SW_RUN
            end = start + _SW_RUN - 1 + _SW_GAP
            if end > wm:
                expected.add((u, start, end, _SW_RUN))
    assert got == expected and expected  # non-vacuous

    ckpt = scratch_path("stream", f"session_state_probe_{sf_key(sf)}")
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert {r["operatorName"] for r in meta} == {"sessionWindowStateStoreSaveExec"}
    assert meta[0]["numPartitions"] == 8


def test_q285_dedup_state_metadata(spark):
    """q285's companion pin: the checkpoint's state-metadata names the
    'dedupe' operator (fourth store family of the introspection
    matrix), and the state's key inventory size equals the batch
    COUNT(DISTINCT user_id)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    got = all_queries()["q285_dedup_state_introspection"].builder(spark, sf).collect()
    expected = load_table(spark, sf, "events").select("user_id").distinct().count()
    assert len(got) == expected
    assert len({r["user_id"] for r in got}) == expected  # keys, not dupes

    ckpt = scratch_path("stream", f"dedup_state_probe_{sf_key(sf)}")
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert {r["operatorName"] for r in meta} == {"dedupe"}


def test_q288_ddww_state_metadata_and_pairing(spark):
    """q287/q288's companion pin: the checkpoint's state-metadata names
    the 'dedupeWithinWatermark' operator (fifth store family of the
    introspection matrix), the state VALUE carries expiresAtMicros
    (unlike q285's void value — the expiry IS the bounded-state
    policy), and the two faces agree: every final state row's expiry
    equals last-emitted-sighting + delay for its key.
    Emission/eviction interleaving probed on Spark 4.1.2 (2026-08-15);
    a Spark upgrade that shifts the batch-vs-eviction order reads as
    "re-probe the closed form", not "flaky test"."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import _OJ_WM

    from .conftest import SF_SMALL as sf

    qs = all_queries()
    emitted = qs["q287_dedup_within_watermark"].builder(spark, sf).collect()
    state = {
        r["dedup_key"]: r["expires_rel_s"]
        for r in qs["q288_dedup_within_wm_state"].builder(spark, sf).collect()
    }
    last_emit = {}
    for r in emitted:
        last_emit[r["dedup_key"]] = max(
            last_emit.get(r["dedup_key"], -1), r["emitted_s"]
        )
    assert state == {k: s + _OJ_WM for k, s in last_emit.items()} and state

    ckpt = scratch_path("stream", "ddww_probe_state_ckpt")
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert {r["operatorName"] for r in meta} == {"dedupeWithinWatermark"}
    raw = spark.read.format("statestore").load(ckpt)
    assert [f.name for f in raw.schema["value"].dataType.fields] == [
        "expiresAtMicros"
    ]


def test_q290_rocksdb_backend_engaged(spark):
    """q290's companion pin: the checkpoint really is a RocksDB store —
    SST files and versioned zip snapshots on disk (the disk-resident
    layout that makes state O(disk) instead of O(heap)), not the
    HDFS-backed provider's .delta files — while the no-conf inventory
    read still resolves it. Layout probed Spark 4.1.2 (2026-08-15)."""
    import os

    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    got = {
        (r["k"], r["cnt"])
        for r in all_queries()["q290_rocksdb_state_backend"]
        .builder(spark, sf)
        .collect()
    }
    expected = {}
    for i in range(400):
        expected[i % 11] = expected.get(i % 11, 0) + 1
    assert got == set(expected.items())

    ckpt = scratch_path("stream", "modcount_rocksdb_ckpt")
    exts = set()
    for root, _, files in os.walk(os.path.join(ckpt, "state")):
        for f in files:
            exts.add(os.path.splitext(f)[1])
    assert ".sst" in exts and ".zip" in exts  # RocksDB layout
    assert ".delta" not in exts  # not silently HDFS-backed


def test_q291_change_feed_is_cumulative_updates(spark):
    """q291's companion pin: the feed is update-only (a count stream
    never deletes), covers every batch 0..3, and its final-batch rows
    agree with the checkpoint's latest snapshot read — changelog
    replay and snapshot state are two views of one store."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    rows = (
        all_queries()["q291_state_change_feed"].builder(spark, sf).collect()
    )
    assert {r["change_type"] for r in rows} == {"update"}
    assert {r["batch_id"] for r in rows} == {0, 1, 2, 3}
    final_feed = {
        (r["k"], r["cnt"]) for r in rows if r["batch_id"] == 3
    }

    ckpt = scratch_path("stream", "modcount_changefeed_ckpt")
    snap = spark.read.format("statestore").load(ckpt)
    final_snap = {
        (r["k"], r["count"]) for r in snap.select("key.k", "value.count").collect()
    }
    assert final_feed == final_snap and final_feed


def test_q292_time_travel_last_batch_is_latest(spark):
    """q292's companion pin: batchId=3 reconstructs exactly the state
    an unoptioned (latest) read returns — time travel's end point IS
    the present."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    rows = all_queries()["q292_state_time_travel"].builder(spark, sf).collect()
    last = {(r["k"], r["cnt"]) for r in rows if r["batch_id"] == 3}
    ckpt = scratch_path("stream", "modcount_timetravel_ckpt")
    latest = {
        (r["k"], r["count"])
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select("key.k", "value.count")
        .collect()
    }
    assert last == latest and last


def test_q296_operator_ids_address_distinct_stores(spark):
    """q296's companion pin: the metadata's operatorIds are live
    addresses — statestore reads with operatorId 0 and 1 return the two
    DIFFERENT aggregation stores (fine vs coarse window keys), so the
    topology row is the index into the checkpoint, not decoration."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    rows = (
        all_queries()["q296_state_metadata_topology"].builder(spark, sf).collect()
    )
    assert {(r["operator_id"], r["operator_name"]) for r in rows} == {
        (0, "stateStoreSave"),
        (1, "stateStoreSave"),
    }
    ckpt = scratch_path("stream", "statemeta_topology_ckpt")
    # the two ids resolve to DISTINCT stores: the value schema names the
    # aggregate each store belongs to (coarse sum(n) vs fine count).
    # Deliberately NOT pinned: per-store row counts — which chained-agg
    # windows remain resident at stream end is eviction-interleaving
    # implementation detail (observed on Spark 4.1.2: the fine store
    # retains all closed windows, the coarse store drains fully).
    value_fields = {}
    for op in (0, 1):
        st = spark.read.format("statestore").option("operatorId", op).load(ckpt)
        value_fields[op] = [f.name for f in st.schema["value"].dataType.fields]
    assert value_fields == {0: ["sum"], 1: ["count"]}


def test_q297_snapshot_replay_equals_direct_read(spark):
    """q297's companion pin: the snapshot-anchored read (snapshot 1 +
    changelog replay to batch 3) returns byte-for-byte the same state
    as the plain latest read — two retrieval paths, one store — and
    the anchor snapshot actually exists on disk (the two-phase staging
    really did capture version 1 before more input arrived)."""
    import os

    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL as sf

    via_snapshot = {
        (r["k"], r["cnt"])
        for r in all_queries()["q297_state_snapshot_replay"]
        .builder(spark, sf)
        .collect()
    }
    ckpt = scratch_path("stream", "snapshot_replay_ckpt")
    assert os.path.exists(os.path.join(ckpt, "state", "0", "0", "1.zip"))
    direct = {
        (r["k"], r["count"])
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select("key.k", "value.count")
        .collect()
    }
    assert via_snapshot == direct and len(via_snapshot) == 13


def test_checkpoint_pins_shuffle_partitions_across_restarts(spark):
    """The ops contract behind q296's numPartitions column: a stateful
    checkpoint PINS the shuffle-partition count at first write —
    restarting the same checkpoint under a different
    spark.sql.shuffle.partitions is silently ignored for the stateful
    operator (state-metadata still reports the original count) and the
    results stay correct. The flip side is the real 100 TB lesson: you
    cannot rescale a stream's state parallelism with a conf change —
    day-one sizing sticks until the state is rebuilt (probed Spark
    4.1.2, 2026-08-15). The second half asserts the fix the first half
    denies: the REBUILD path (q298_state_repartition_rebuild — replay
    the same input into a FRESH checkpoint under the new conf) actually
    lands on 16 partitions with identical state, so rescaling is a
    planned backfill, not a conf edit."""
    import os
    import shutil

    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _OJ_BASE,
        _ensure_outer_join_fixture,
    )

    fixture = _ensure_outer_join_fixture()
    base = scratch_path("stream", "stickyparts_test")
    src, ckpt = base + "_src", base + "_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(src)

    def run(parts, target):
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
            .option("checkpointLocation", target),
            partitions=parts,
        )

    copy_batches(fixture, src, [0, 1], _OJ_BASE)
    run(8, ckpt)
    copy_batches(fixture, src, [2, 3], _OJ_BASE)
    run(16, ckpt)  # restart under a DIFFERENT conf
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert [r["numPartitions"] for r in meta] == [8]  # conf 16 ignored
    assert [r["maxBatchId"] for r in meta] == [3]  # restart DID process
    state = spark.read.format("statestore").load(ckpt)
    got = sorted(
        (r["k"], r["count"]) for r in state.select("key.k", "value.count").collect()
    )
    expected = {}
    for i in range(400):
        expected[i % 7] = expected.get(i % 7, 0) + 1
    assert got == sorted(expected.items())

    # the rebuild path fixes what restart can't: the full input replayed
    # into a FRESH checkpoint under parts=16 genuinely lands on 16
    # partitions with identical state (q298's job, in miniature)
    ckpt16 = base + "_ckpt_rebuilt"
    shutil.rmtree(ckpt16, ignore_errors=True)
    run(16, ckpt16)
    meta16 = spark.read.format("state-metadata").load(ckpt16).collect()
    assert [r["numPartitions"] for r in meta16] == [16]  # rescaled for real
    rebuilt = sorted(
        (r["k"], r["count"])
        for r in spark.read.format("statestore")
        .load(ckpt16)
        .select("key.k", "value.count")
        .collect()
    )
    assert rebuilt == got  # rebuild == original results, under 16 parts


def test_snapshot_start_batch_id_requires_rocksdb(spark):
    """q297's backend precondition, pinned as contract: the
    snapshotStartBatchId read path is RocksDB+changelog ONLY. On an
    HDFS-backed checkpoint (the default provider — .delta/.snapshot
    layout, no <v>.zip) the identical read raises
    CANNOT_LOAD_STATE_STORE (probed Spark 4.1.2 r9, pinned r10), so the
    q297 recipe must not be mistaken for backend-generic."""
    import os
    import shutil

    import pytest

    from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import (
        _OJ_BASE,
        _ensure_outer_join_fixture,
    )

    fixture = _ensure_outer_join_fixture()
    base = scratch_path("stream", "hdfs_snapshot_asym")
    src, ckpt = base + "_src", base + "_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    copy_batches(fixture, src, [0, 1], _OJ_BASE)
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
        partitions=1,
    )

    # HDFS layout: versioned .delta files, never <v>.zip snapshots
    part_dir = os.path.join(ckpt, "state", "0", "0")
    names = os.listdir(part_dir)
    assert any(n.endswith(".delta") for n in names)
    assert not any(n.endswith(".zip") for n in names)

    # the plain latest read works on this backend...
    plain = spark.read.format("statestore").load(ckpt)
    assert plain.count() == 7
    # ...but the snapshot-anchored read is a pinned refusal
    with pytest.raises(Exception, match="CANNOT_LOAD_STATE_STORE"):
        (
            spark.read.format("statestore")
            .option("snapshotStartBatchId", 0)
            .option("snapshotPartitionId", 0)
            .option("batchId", 1)
            .load(ckpt)
            .collect()
        )
