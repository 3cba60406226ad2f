"""SparkSession factory tuned for the engine.

The reference hand-tunes a session per job (``spark_jobs/reporting.py:7-25``:
AQE, coalesce, skew join, 50 MB broadcast threshold, Arrow). We keep those
ideas but size shuffle partitions from the available cores and leave AQE to
re-plan at runtime — the same config scales from local[32] tests to a
1000-executor cluster where ``spark.sql.shuffle.partitions`` would be set
to ~2-3x total cores by the deployer.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

BROADCAST_THRESHOLD = 50 * 1024 * 1024  # 50 MB, mirrors reference reporting.py:16

# Entries in Catalyst's JVM-wide cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, static, default 100). A
# long-lived session re-runs the same queries, and each pass walks its
# generated classes in the same cyclic order, so an LRU smaller than
# that working set misses on every class and recompiles it (Janino),
# then runs it interpreted until the JIT catches up again. Distinct
# classes compiled in one pass, measured on a 4-core host: perfbench
# ``query`` 188, perfbench ``etl`` 143, bench.py's 45 queries at sf0.1
# 1178. Their sum, 1500, plus a third for headroom. The classes kept
# cost about 13 KB each of Metaspace and class space (one full bench.py
# run: 1200 more kept than at 100 entries, +15 MB).
CODEGEN_CACHE_ENTRIES = 2000

# Runtime confs every query relies on, set once per session:
# - UTC, so timestamp semantics (window boundaries, casts, date_trunc)
#   match the DuckDB oracle. The datetime objects ``collect()`` hands
#   back are rendered via the OS timezone by PySpark itself; both
#   engines are compared inside one process, so that rendering cancels.
# - Arrow for the pandas paths (llm/, multimodal, pandas UDFs).
# - ``nanosAsLong``: ``events.parquet`` stores TIMESTAMP(NANOS), which
#   Spark's reader rejects; read as long, ``catalog.normalize_events_ts``
#   converts (batch and streaming readers alike).
# - Python data sources receive pushed filters (q105's ``seqgen``).
ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bedpa-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    - AQE on (runtime coalesce + skew-join splitting) so the static
      shuffle-partition count only needs to be an upper bound.
    - ``ENGINE_CONF``: UTC, Arrow, nanosecond parquet timestamps,
      Python-source filter pushdown.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_THRESHOLD))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(f"local[{cpus}]")
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> None:
    """Apply ``ENGINE_CONF`` to a session the engine did not build (the
    driver passes its own). Every key is runtime-settable."""
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body, then put each key back
    as it was: keys that were unset are unset again, the others reset
    to their old value. Restores on error too.

    Lazy-plan rule: a frame BUILT inside the scope but RUN after it is
    planned under the restored conf. A builder whose result depends on
    a scoped optimizer conf must fix the plan inside the scope, either
    by forcing ``df._jdf.queryExecution().executedPlan()`` (a cached
    lazy val the later collect reuses: q232, q262, q281) or by running
    the frame (q293, q309)."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
