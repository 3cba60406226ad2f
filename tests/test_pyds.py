"""Python DataSource API: partition planning + filter pushdown.

Note: merely IMPLEMENTING pushFilters requires
spark.sql.python.filterPushdown.enabled=true (Spark refuses to
initialize the reader otherwise); the engine's sessions carry it in
``session.ENGINE_CONF``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.sources.pyds import _MULT, ensure_registered


def _read(spark, **opts):
    ensure_registered(spark)
    r = spark.read.format("seqgen")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_seqgen_partition_planning(spark):
    df = _read(spark, n=1000, numPartitions=8)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    assert df.agg(F.min("id"), F.max("id")).collect()[0] == (0, 999)


def test_seqgen_filter_pushdown_prunes_partitions(spark):
    """An id-range predicate reaches pushFilters BEFORE partition
    planning: a 1-row range plans 1 partition, not 8 — and pushdown must
    not change any value (checked against the generator formula)."""
    df = _read(spark, n=5000, numPartitions=8).filter(F.col("id") >= 4999)
    assert df.count() == 1
    assert df.rdd.getNumPartitions() == 1
    got = sorted(
        tuple(r)
        for r in _read(spark, n=5000, numPartitions=8)
        .filter((F.col("id") >= 1200) & (F.col("id") < 4800))
        .collect()
    )
    expect = sorted(
        (i, i % 10, ((i * _MULT) % 1000) / 4.0) for i in range(1200, 4800)
    )
    assert got == expect


def test_seqgen_streaming_source_drains_exactly_once(spark, tmp_path):
    """The custom STREAMING source (SimpleDataSourceStreamReader):
    draining n=500/batchSize=120 takes >= 5 micro-batches whose union is
    exactly [0, 500) — every id exactly once, offsets advancing through
    the checkpoint log. processAllAvailable() returns once the reader's
    offset stops advancing at n (empty batch, same offset)."""
    ensure_registered(spark)
    q = (
        spark.readStream.format("seqgen")
        .option("n", 500)
        .option("batchSize", 120)
        .load()
        .writeStream.format("memory")
        .queryName("seq_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT id, bucket, value FROM seq_stream").collect()
    assert sorted(r["id"] for r in rows) == list(range(500))
    for r in rows:
        assert r["bucket"] == r["id"] % 10
        assert r["value"] == ((r["id"] * _MULT) % 1000) / 4.0


def test_jsondir_stream_sink_two_phase_commit(spark, tmp_path):
    """Custom streaming SINK: seqgen stream -> jsondir sink. Published
    files appear only via commit (staging is empty afterwards), names
    are (batchId, partition)-deterministic, and the union of all
    published rows is exactly the generated [0, n)."""
    import glob
    import json

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.pyds import ensure_sink_registered

    ensure_registered(spark)
    ensure_sink_registered(spark)
    out = tmp_path / "sink"
    q = (
        spark.readStream.format("seqgen")
        .option("n", 300)
        .option("batchSize", 100)
        .load()
        .writeStream.format("jsondir")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    published = sorted(glob.glob(str(out / "batch-*.jsonl")))
    assert len(published) >= 3  # at least one file per non-empty batch
    ids = []
    for p in published:
        with open(p, encoding="utf-8") as fh:
            ids += [json.loads(line)["id"] for line in fh]
    assert sorted(ids) == list(range(300))
    assert glob.glob(str(out / "_staging" / "*")) == []
