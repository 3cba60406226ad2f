"""Spark 4 Python DataSource API (SURVEY §2.1 extension): a custom
source with REAL partition planning and filter pushdown.

The reference reads CSV/JDBC only; a modern Spark engine also hosts
user-defined sources. ``SequenceDataSource`` is the minimal honest
demonstration: a deterministic synthetic row generator whose arithmetic
any SQL engine can replay, split into genuine ``InputPartition`` ranges
(so the scan parallelizes like a real source — one Python task per
partition), with ``pushFilters`` translating id-range predicates into
partition pruning (the filters Spark pushes arrive BEFORE
``partitions()`` is called, so pruned ranges are never even planned —
the same contract a parquet row-group pruner honors).

Row formula for id i: ``bucket = i % 10``,
``value = ((i * 2654435761) % 1000) / 4.0`` — quarters are exact in
binary floating point and the sums stay far below 2^53, so aggregates
need no decimal detour to be order-independent and engine-exact.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
)

_MULT = 2654435761


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SequenceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.lo = 0
        self.hi = self.n
        self.num_parts = int(options.get("numPartitions", 8))

    def pushFilters(self, filters: list[Filter]):
        """Absorb id-range predicates into the generation bounds; anything
        else is returned for Spark to re-apply post-scan."""
        for f in filters:
            if isinstance(f, GreaterThanOrEqual) and f.attribute == ("id",):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan) and f.attribute == ("id",):
                self.hi = min(self.hi, int(f.value))
            else:
                yield f

    def partitions(self):
        lo, hi = self.lo, min(self.hi, self.n)
        if hi <= lo:
            return [_Range(0, 0)]
        step = -(-(hi - lo) // self.num_parts)
        return [_Range(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, part: _Range):
        for i in range(part.start, part.end):
            yield (i, i % 10, ((i * _MULT) % 1000) / 4.0)


class SequenceDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "seqgen"

    def schema(self) -> str:
        return "id bigint, bucket int, value double"

    def reader(self, schema) -> SequenceReader:
        return SequenceReader(self.options)


# ---------------------------------------------------------------------------
# q105: the custom Python source under the differential gate. The scan
# plans one Python task per InputPartition; the id-range filter is
# pushed into the source (partition pruning before planning — pinned in
# tests/test_pyds.py); the oracle replays the generator arithmetic from
# DuckDB's range(). Value sums are exact quarters, so plain double SUM
# is order-independent on both engines.
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..registry import register  # noqa: E402

_Q105_ORACLE = f"""
SELECT CAST(id % 10 AS INT) AS bucket,
       COUNT(*) AS n_rows,
       SUM(((id * {_MULT}) % 1000) / 4.0) AS sum_value
FROM range(1200, 4800) t(id)
GROUP BY 1
"""


def ensure_registered(spark: SparkSession) -> None:
    """Idempotent per-session registration of the seqgen source."""
    try:
        spark.dataSource.register(SequenceDataSource)
    except Exception:  # already registered in this session  # noqa: BLE001
        pass


@register("q105_python_datasource", oracle=_Q105_ORACLE, tags=("source", "python-ds"))
def q105_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_registered(spark)
    df = (
        spark.read.format("seqgen")
        .option("n", 5000)
        .option("numPartitions", 8)
        .load()
    )
    return (
        df.filter((F.col("id") >= 1200) & (F.col("id") < 4800))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )

