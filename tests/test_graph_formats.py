"""Semantic checks for q128 (PageRank) and q129 (format roundtrip)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.analytics.graph_q import (
    q128_pagerank_copurchase,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.scratch import scratch_path, sf_key
from brazilian_e_commerce_data_pipeline_analytics_spark.sources.formats_q import (
    q129_format_roundtrip,
)

from .conftest import SF_SMALL


def test_pagerank_is_a_distribution(spark):
    out = q128_pagerank_copurchase(spark, SF_SMALL)
    agg = out.agg(
        F.sum("pagerank").alias("mass"),
        F.min("pagerank").alias("lo"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    # total rank mass is conserved (teleport + damped redistribution)
    assert abs(agg["mass"] - 1.0) < 1e-4
    assert agg["lo"] > 0
    assert agg["n"] > 0
    # higher-degree nodes must on average out-rank low-degree nodes
    med = out.approxQuantile("degree", [0.5], 0.0)[0]
    hi = out.filter(F.col("degree") > med).agg(F.avg("pagerank")).first()[0]
    lo = out.filter(F.col("degree") <= med).agg(F.avg("pagerank")).first()[0]
    assert hi > lo


def test_format_roundtrip_writes_both_formats(spark):
    out = q129_format_roundtrip(spark, SF_SMALL).collect()
    fmts = {r["fmt"] for r in out}
    assert fmts == {"orc", "json"}
    # orc rows == json rows per event_type (lossless roundtrip)
    per = {}
    for r in out:
        per.setdefault(r["event_type"], {})[r["fmt"]] = (
            r["n_rows"], r["n_users"], r["total_value"]
        )
    for et, by_fmt in per.items():
        assert by_fmt["orc"] == by_fmt["json"], et
    # the ORC write is partitioned by event_type (directory-level pruning)
    orc_dirs = glob.glob(
        scratch_path("formats", f"events_orc_{sf_key(SF_SMALL)}_*", "event_type=*")
    )
    assert orc_dirs, "expected partitioned ORC layout"


def test_range_sorted_write_files_are_sorted(spark):
    """q145's physical claim: every written file is internally sorted by
    l_shipdate and file ranges within a bucket partition don't interleave
    arbitrarily — check per-file monotonicity via input_file_name."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.formats_q import (
        q145_range_sorted_write,
    )
    from .conftest import SF_SMALL

    q145_range_sorted_write(spark, SF_SMALL).count()  # materialize the write
    dirs = sorted(glob.glob(scratch_path("formats", f"sorted_{sf_key(SF_SMALL)}_*")))
    assert dirs, "q145 left no written table"
    rb = spark.read.parquet(dirs[-1]).withColumn("f", F.input_file_name())
    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    viol = (
        rb.select("f", "l_shipdate", F.lag("l_shipdate").over(w).alias("prev"))
        .filter(F.col("prev") > F.col("l_shipdate"))
        .count()
    )
    assert viol == 0


def test_zorder_tiles_bound_both_dimensions(spark):
    """The Z-order property: fixing the top 8 bits of z pins bits 8-11
    of BOTH coordinates, so every tile's bounding box spans < 2^8 on
    each axis — two-dimensional locality a single-column sort can't
    give."""
    from pyspark.sql import functions as F

    from brazilian_e_commerce_data_pipeline_analytics_spark.sources.formats_q import (
        q147_zorder_layout,
    )
    from .conftest import SF_SMALL

    out = q147_zorder_layout(spark, SF_SMALL)
    bad = out.filter(
        ((F.col("max_x") - F.col("min_x")) > 255)
        | ((F.col("max_y") - F.col("min_y")) > 255)
    ).count()
    assert bad == 0
    assert out.count() > 1


def test_validate_utf8_raises_on_invalid_bytes(spark):
    """q308's fourth policy, pinned here because a raising expression
    can't be a driver row: validate_utf8 is the FAIL-FAST variant —
    invalid bytes abort the job (INVALID_UTF8_STRING), unlike
    make_valid_utf8 (repairs) and try_validate_utf8 (NULLs). The valid
    face passes through unchanged."""
    import pytest

    ok = spark.sql("SELECT validate_utf8(X'68656C6C6F') AS s").collect()
    assert ok[0]["s"] == "hello"
    with pytest.raises(Exception, match="INVALID_UTF8_STRING"):
        spark.sql("SELECT validate_utf8(X'FF686921') AS s").collect()
