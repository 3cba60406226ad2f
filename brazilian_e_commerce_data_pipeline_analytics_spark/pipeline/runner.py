"""Pipeline runner: bronze → silver → (quality gate) → gold.

Replaces the Airflow DAG (``Dag/E-commerce_dag.py``): DAG edges are
function-call order, the quality gate is an in-engine assertion, retries
are Spark task retries, and the 30-minute cadence is either an external
scheduler invoking :func:`run_pipeline` or the streaming micro-batch
variant (streaming/jobs.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .bronze import ingest_csv_dir
from .gold import run_gold
from .quality import silver_gate
from .silver import read_silver, run_silver


@dataclass(frozen=True)
class PipelinePaths:
    csv_dir: str
    bronze_dir: str
    silver_dir: str
    gold_dir: str


def run_pipeline(spark: SparkSession, paths: PipelinePaths) -> None:
    ingest_csv_dir(spark, paths.csv_dir, paths.bronze_dir)
    run_silver(spark, paths.bronze_dir, paths.silver_dir)
    silver_gate(read_silver(spark, paths.silver_dir))
    run_gold(spark, paths.silver_dir, paths.gold_dir)


def main(argv: list[str] | None = None) -> None:
    """CLI twin of the reference's three spark-submit jobs:
    ``python -m brazilian_e_commerce_data_pipeline_analytics_spark.pipeline.runner <csv_dir> <out_dir>``
    runs the full medallion into ``<out_dir>/{bronze,silver,gold}``."""
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("csv_dir", help="directory of Olist-shaped CSVs")
    ap.add_argument("out_dir", help="output root for bronze/silver/gold parquet")
    args = ap.parse_args(argv)
    paths = PipelinePaths(
        csv_dir=args.csv_dir,
        bronze_dir=f"{args.out_dir}/bronze",
        silver_dir=f"{args.out_dir}/silver",
        gold_dir=f"{args.out_dir}/gold",
    )
    spark = get_spark(app_name="bedpa-pipeline")
    run_pipeline(spark, paths)


if __name__ == "__main__":
    main()
