"""The scratch space's reuse rule: derived fixtures are rebuilt once per
process, so no state left on disk by a copy, a restore or an earlier
run decides a result, and fixtures derived from two sf dirs never mix."""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark import scratch
from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries
from brazilian_e_commerce_data_pipeline_analytics_spark.streaming import jobs

from .conftest import SF_SMALL


def _stale(d: str, marker: str) -> None:
    """Leave ``d`` as a copy of a used tree would: every batch file
    stamped with the copy time (here newest-first, so mtime order is the
    reverse of batch order), and an old cache marker beside them."""
    names = sorted(n for n in os.listdir(d) if n.startswith("batch_"))
    now = time.time()
    for i, name in enumerate(names):
        os.utime(os.path.join(d, name), (now - i, now - i))
    with open(os.path.join(d, "_complete"), "w", encoding="utf-8") as fh:
        fh.write(marker)


def test_stream_fixtures_ignore_stale_state_on_disk(spark, monkeypatch):
    _stale(jobs._ensure_late_fixture(), "n=2000 b=500 shift=700\n")
    _stale(
        jobs._ensure_outer_join_fixture(),
        "n=400 b=100 off=10 base=1700000000 pred=all\n",
    )
    monkeypatch.setattr(scratch, "_BUILT", set())  # as in a new process

    qs = all_queries()
    for name, oracle in (
        ("q119_stream_late_drop", jobs._Q119_ORACLE),
        ("q138_stream_outer_join", jobs._Q138_ORACLE),
    ):
        got = {tuple(r) for r in qs[name].builder(spark, SF_SMALL).collect()}
        want = set(duckdb.sql(oracle).fetchall())
        assert got == want and want, name


def test_sf_dirs_sharing_a_basename_stream_their_own_events(spark, tmp_path):
    events = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    other = tmp_path / os.path.basename(SF_SMALL)
    other.mkdir()
    half = events.slice(0, events.num_rows // 2)
    pq.write_table(half, str(other / "events.parquet"))

    q53 = all_queries()["q53_stream_hourly"].builder
    try:
        for sf_dir, n_rows in ((SF_SMALL, events.num_rows), (str(other), half.num_rows)):
            total = q53(spark, sf_dir).agg(F.sum("n_events")).first()[0]
            assert total == n_rows, sf_dir
    finally:  # the link dir is keyed on this run's tmp path: drop it
        link_dir = scratch.scratch_path("stream", f"events_{scratch.sf_key(str(other))}")
        shutil.rmtree(link_dir, ignore_errors=True)


def test_olist_fixtures_ignore_a_changed_csv_on_disk(monkeypatch, tmp_path):
    from brazilian_e_commerce_data_pipeline_analytics_spark.pipeline import gold_q

    from .fixtures_gen import generate

    csv = os.path.join(gold_q._ensure_fixtures(), "orders.csv")
    with open(csv, "w", encoding="utf-8") as fh:
        fh.write("order_id\nnot-a-seeded-order\n")
    monkeypatch.setattr(scratch, "_BUILT", set())  # as in a new process

    gold_q._ensure_fixtures()
    generate(str(tmp_path))
    with open(csv, "rb") as got, open(tmp_path / "orders.csv", "rb") as want:
        assert got.read() == want.read()
