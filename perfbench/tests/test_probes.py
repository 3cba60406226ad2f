"""Pins the JVM-internal reads of ``perfbench/probes.py`` on the
installed Spark: if an upgrade moves one, this fails instead of the
benchmark silently reporting nulls."""

from __future__ import annotations

import os
import warnings

import pytest

from perfbench.probes import ProbeWarning, SparkProbe


def test_stage_statistics_and_written_files(spark, tmp_path):
    probe = SparkProbe(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", ProbeWarning)
        before = probe.mark()
        df = spark.range(20000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
        assert len(df.collect()) == 7
        df.write.parquet(str(tmp_path / "out"))
        stats, after = probe.since(before)
        phases = probe.phases(df)
        rss = probe.jvm_peak_rss_mb()
    assert stats.jobs >= 2 and stats.stages >= 2 and stats.tasks >= 2
    assert stats.task_run_s > 0 and stats.task_cpu_s > 0
    assert stats.shuffle_write_mb > 0 and stats.shuffle_read_mb > 0
    assert stats.output_mb > 0
    written = [f for f in os.listdir(tmp_path / "out") if f.endswith(".parquet")]
    assert stats.output_files == len(written) > 0
    assert after.stage > before.stage and after.job > before.job
    assert after.execution > before.execution
    assert set(phases) == {"analysis", "optimization", "planning"}
    assert sum(phases.values()) > 0
    assert rss > 100


def test_lists_are_ordered_as_the_walks_assume(spark):
    """``since`` stops at the first id already counted: stages and jobs
    must come newest first, SQL executions oldest first."""
    for _ in range(2):
        spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    probe = SparkProbe(spark)
    stages = probe._stage_list()
    ids = [stages.apply(i).stageId() for i in range(stages.size())]
    assert ids == sorted(ids, reverse=True)
    jobs = probe._status_store().jobsList(None)
    ids = [jobs.apply(i).jobId() for i in range(jobs.size())]
    assert ids == sorted(ids, reverse=True)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    ids = [execs.apply(i).executionId() for i in range(execs.size())]
    assert ids == sorted(ids)


def test_probe_fails_open_with_a_named_warning():
    class Broken:
        sparkContext = None

    with pytest.warns(ProbeWarning, match="status-store mark"):
        assert SparkProbe(Broken()).mark() is None
    assert SparkProbe(Broken()).since(None) == (None, None)
