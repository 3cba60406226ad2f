"""Versioned parquet tables (sources/versioned.py): snapshot isolation,
time travel, partition-level copy-on-write MERGE."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import (
    create_table,
    latest_version,
    merge_version,
    read_version,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.streaming.jobs import run_available_now


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _mk(spark, data):
    return spark.createDataFrame([Row(d=d, k=k, v=v) for d, k, v in data])


def test_create_merge_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)])
    assert create_table(base, t, "d") == 1

    # upsert: change (a,1), insert (a,9), leave partition b untouched
    upd = _mk(spark, [("a", 1, 11), ("a", 9, 90)])
    assert merge_version(spark, t, upd, key_cols=["d", "k"]) == 2

    v2 = _rows(read_version(spark, t))
    assert v2 == _rows(
        _mk(spark, [("a", 1, 11), ("a", 2, 20), ("a", 9, 90), ("b", 3, 30)])
    )
    # time travel: version 1 still reads the original snapshot
    assert _rows(read_version(spark, t, version=1)) == _rows(base)
    assert latest_version(t) == 2


def test_merge_is_copy_on_write_per_partition(spark, tmp_path):
    """Untouched partitions must keep referencing the SAME immutable
    data dir across versions — the whole point of copy-on-write."""
    import json

    t = str(tmp_path / "tbl")
    create_table(_mk(spark, [("a", 1, 10), ("b", 2, 20)]), t, "d")
    merge_version(spark, t, _mk(spark, [("a", 1, 11)]), key_cols=["d", "k"])
    m1 = json.load(open(os.path.join(t, "_v1.json")))["parts"]
    m2 = json.load(open(os.path.join(t, "_v2.json")))["parts"]
    assert m1["b"] == m2["b"]  # shared immutable dir
    assert m1["a"] != m2["a"]  # rewritten partition points elsewhere


def test_merge_inserts_new_partition(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_table(_mk(spark, [("a", 1, 10)]), t, "d")
    merge_version(spark, t, _mk(spark, [("c", 7, 70)]), key_cols=["d", "k"])
    assert _rows(read_version(spark, t)) == _rows(
        _mk(spark, [("a", 1, 10), ("c", 7, 70)])
    )


def test_partition_filter_prunes_dirs(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_table(_mk(spark, [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)]), t, "d")
    pruned = read_version(spark, t, partition_filter=lambda v: v == "b")
    assert _rows(pruned) == _rows(_mk(spark, [("b", 2, 20)]))
    # pruning happens at planning: only one data dir is in the plan
    assert len(pruned.inputFiles()) == len(
        read_version(spark, t, partition_filter=lambda v: v == "a").inputFiles()
    )


def test_manifest_publish_is_atomic(spark, tmp_path):
    """No partially-visible manifests: every _v*.json on disk parses and
    lists only dirs that exist (rename-published)."""
    import json

    t = str(tmp_path / "tbl")
    create_table(_mk(spark, [("a", 1, 10)]), t, "d")
    for _ in range(3):
        merge_version(spark, t, _mk(spark, [("a", 1, 99)]), key_cols=["d", "k"])
    for name in os.listdir(t):
        if name.startswith("_v"):
            m = json.load(open(os.path.join(t, name)))
            for rel in m["parts"].values():
                assert os.path.isdir(os.path.join(t, rel)), (name, rel)
    assert latest_version(t) == 4


def test_typed_partition_column_round_trips(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [Row(d=1, k=1, v=10), Row(d=2, k=2, v=20)]
    )
    create_table(df, t, "d")
    out = read_version(spark, t)
    assert dict(out.dtypes)["d"] == "bigint"
    assert _rows(out) == _rows(df)


def test_vacuum_retention(spark, tmp_path):
    """VACUUM drops data dirs only old manifests reference; surviving
    versions keep reading, vacuumed versions become unreadable."""
    import json

    t = str(tmp_path / "tbl")
    create_table(_mk(spark, [("a", 1, 10), ("b", 2, 20)]), t, "d")
    merge_version(spark, t, _mk(spark, [("a", 1, 11)]), key_cols=["d", "k"])
    merge_version(spark, t, _mk(spark, [("a", 1, 12)]), key_cols=["d", "k"])

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import vacuum

    removed = vacuum(t, keep_last=1)
    assert removed == 2  # the two superseded 'a' dirs
    # latest still reads completely (b's dir is shared by v3 and survives)
    assert _rows(read_version(spark, t)) == _rows(
        _mk(spark, [("a", 1, 12), ("b", 2, 20)])
    )
    # vacuumed manifests are gone
    assert not os.path.exists(os.path.join(t, "_v1.json"))
    assert not os.path.exists(os.path.join(t, "_v2.json"))


def test_compact_partition_preserves_values(spark, tmp_path):
    """OPTIMIZE: many small files -> target_files, values unchanged, old
    version still reads the uncompacted layout."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import (
        compact_partition,
    )

    t = str(tmp_path / "tbl")
    wide = _mk(spark, [("a", k, k * 10) for k in range(40)]).repartition(8)
    create_table(wide, t, "d")
    before = read_version(spark, t)
    n_files_before = len(before.inputFiles())
    assert n_files_before > 1
    v = compact_partition(spark, t, "a", target_files=1)
    assert v == 2
    after = read_version(spark, t)
    assert len(after.inputFiles()) == 1
    assert _rows(after) == _rows(before)
    # time travel still sees the uncompacted file layout
    assert len(read_version(spark, t, version=1).inputFiles()) == n_files_before


def test_streaming_merge_into_versioned_table(spark, tmp_path):
    """Streaming MERGE INTO: foreachBatch upserts each micro-batch into
    the versioned table; the final snapshot equals the batch aggregate
    and every intermediate version is a consistent snapshot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import (
        create_table as vt_create,
        merge_version as vt_merge,
    )

    src = tmp_path / "src"
    src.mkdir()
    t = str(tmp_path / "tbl")
    base = 1_700_000_000
    for b in range(3):
        ids = list(range(b * 100, (b + 1) * 100))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "ts": pa.array([(base + i * 60) * 1_000_000 for i in ids], pa.timestamp("us")),
                    "v": pa.array([float(i) for i in ids], pa.float64()),
                }
            ),
            str(src / f"b{b}.parquet"),
        )
        os.utime(str(src / f"b{b}.parquet"), (base + b, base + b))

    def daily(df):
        return df.groupBy(F.col("ts").cast("date").alias("d")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )

    def upsert(batch, bid):
        if batch.isEmpty():
            return
        agg = daily(
            batch.sparkSession.read.parquet(str(src))  # recompute touched days fully
            .join(F.broadcast(batch.select(F.col("ts").cast("date").alias("d")).distinct()),
                  F.col("ts").cast("date") == F.col("d"), "left_semi")
        )
        try:
            vt_merge(batch.sparkSession, t, agg, key_cols=["d"])
        except FileNotFoundError:
            vt_create(agg, t, "d")

    stream = spark.readStream.schema("id bigint, ts timestamp, v double").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    run_available_now(
        spark,
        stream.writeStream.foreachBatch(upsert).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ),
    )

    expected = _rows(daily(spark.read.parquet(str(src))))
    assert _rows(read_version(spark, t).select("d", "n", "sv")) == expected


def test_cdc_apply_deletes_updates_and_drops_empty_partitions(spark, tmp_path):
    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import (
        apply_cdc,
        _read_manifest,
    )

    t = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 4, 40)])
    assert create_table(base, t, "d") == 1

    changes = spark.createDataFrame(
        [
            Row(d="a", k=1, v=11, op="U"),   # update in place
            Row(d="a", k=2, v=None, op="D"), # delete one key of partition a
            Row(d="b", k=5, v=50, op="I"),   # insert alongside survivor
            Row(d="c", k=4, v=None, op="D"), # delete the WHOLE partition c
        ]
    )
    assert apply_cdc(spark, t, changes, key_cols=["d", "k"]) == 2

    v2 = _rows(read_version(spark, t))
    assert v2 == _rows(
        _mk(spark, [("a", 1, 11), ("b", 3, 30), ("b", 5, 50)])
    )
    # partition c vanished from the manifest (no stale-data pointer)
    m = _read_manifest(t, 2)
    assert set(m["parts"]) == {"a", "b"}
    # time travel still sees the pre-CDC world
    assert _rows(read_version(spark, t, version=1)) == _rows(base)


def test_restore_is_metadata_only_and_vacuum_safe(spark, tmp_path):
    """q334's companion pin: RESTORE publishes a new manifest that
    re-points at the restored version's EXACT immutable dirs (no data
    copied — the parts maps are identical), records its provenance,
    and a subsequent vacuum(keep_last=1) keeps the restored dirs alive
    while dropping the bad version's — the full rollback story."""
    import json

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.versioned import (
        restore_version,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("b", 2, 20)])
    create_table(base, t, "d")
    merge_version(spark, t, _mk(spark, [("a", 1, 666)]), key_cols=["d", "k"])

    before = {
        rel for part in os.listdir(os.path.join(t, "data"))
        for rel in os.listdir(os.path.join(t, "data", part))
    }
    assert restore_version(t, to_version=1) == 3
    after = {
        rel for part in os.listdir(os.path.join(t, "data"))
        for rel in os.listdir(os.path.join(t, "data", part))
    }
    assert before == after  # metadata only: not one data dir created

    m1 = json.load(open(os.path.join(t, "_v1.json")))
    m3 = json.load(open(os.path.join(t, "_v3.json")))
    assert m3["parts"] == m1["parts"]
    assert m3["restored_from"] == 1
    assert _rows(read_version(spark, t)) == _rows(base)

    # rollback retention: vacuum keeps v3 (== v1's dirs), drops v2's
    removed = vacuum(t, keep_last=1)
    assert removed == 1  # exactly the bad merge's rewritten 'a' dir
    assert _rows(read_version(spark, t)) == _rows(base)
    assert not os.path.exists(os.path.join(t, "_v2.json"))
