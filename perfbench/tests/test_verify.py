"""The pipeline checks of ``perfbench/verify.py`` against a warehouse the
pipeline wrote, and against copies of it with a wrong layer. A wrong
result that repeats on every pass must still fail its op: the silver
and gold checks compare with the bronze input and with fixed
invariants, not only with an earlier pass."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from perfbench import gen
from perfbench.verify import check_warehouse
from perfbench.workloads import WORKLOADS, pipeline_call


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("etl")
    csv, wh = str(root / "csv"), str(root / "wh")
    gen.olist(csv, seed=3, n_orders=300)
    for op in WORKLOADS["etl"]:
        pipeline_call(op, spark, csv, wh)()
    return csv, wh


def _tampered(wh: str, dst: str, table: str, where: str) -> str:
    """A copy of warehouse ``wh`` whose ``table`` keeps only the rows
    that match ``where``."""
    shutil.copytree(wh, dst)
    path = os.path.join(dst, table)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}/*.parquet') WHERE {where}")
    shutil.rmtree(path)
    os.makedirs(path)
    con.execute(f"COPY t TO '{path}/part-0.parquet' (FORMAT parquet)")
    con.close()
    return dst


def test_the_pipelines_own_warehouse_passes(built):
    csv, wh = built
    assert check_warehouse(csv, wh, 2) == {
        "pipeline.bronze": [], "pipeline.silver": [], "pipeline.gold": []}


def test_rows_missing_from_silver_fail_the_silver_op(built, tmp_path):
    csv, wh = built
    bad = _tampered(wh, str(tmp_path / "wh"), "silver/orders", "Ord_Status != 'Delivered'")
    problems = check_warehouse(csv, bad, 2)
    assert any(p.startswith("silver orders: ") for p in problems["pipeline.silver"])
    assert problems["pipeline.bronze"] == []


def test_a_broken_gold_invariant_fails_the_gold_op(built, tmp_path):
    csv, wh = built
    bad = _tampered(wh, str(tmp_path / "wh"), "gold/dim_time", "Time_SK < 23")
    problems = check_warehouse(csv, bad, 2)
    assert [p for p in problems["pipeline.gold"] if p.startswith("gold dim_time: ")]
    assert problems["pipeline.silver"] == []
