"""The benchmark's workloads: fixed, ordered lists of operations ("ops").

Every op is attributed to the package module (the "layer") whose public
builder or function it calls. Registry ops return a DataFrame that the
worker drains with ``collect()`` and that is checked against the query's
DuckDB oracle; pipeline ops write parquet and return nothing, and are
checked by ``verify.check_warehouse``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

PKG = "brazilian_e_commerce_data_pipeline_analytics_spark"


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    # registry ops: the query name; pipeline ops: None
    query: str | None = None


def _q(layer: str, *names: str) -> list[Op]:
    return [Op(n, layer, n) for n in names]


WORKLOADS: dict[str, list[Op]] = {
    # Read-only interactive session: BI dashboard questions over the star
    # (per-query planning and per-stage fixed cost dominate), the
    # LLM-curation reads (shingle shuffles, pandas/Arrow workers) and a
    # z-order layout read.
    "query": [
        *_q("analytics.core", "q01_pricing_summary"),
        *_q("analytics.windows_q", "q20_monthly_revenue_yoy"),
        *_q("analytics.events_q", "q28_event_funnel"),
        *_q("streaming.jobs", "q54_sessions_batch"),
        *_q("llm.text_q", "q40_token_stats"),
        *_q("llm.dedup_q", "q45_ngram_jaccard_pairs"),
        *_q("llm.similarity_q", "q57_knn_pandas_udf"),
        *_q("llm.curation_q", "q139_pii_redaction"),
        *_q("sources.formats_q", "q147_zorder_layout"),
    ],
    # The reference's own scheduled job: the medallion pipeline over
    # Olist-shaped CSVs, which writes every layer.
    "etl": [
        Op("pipeline.bronze", "pipeline.bronze.ingest_csv_dir"),
        Op("pipeline.silver", "pipeline.silver.run_silver"),
        Op("pipeline.quality", "pipeline.quality.silver_gate"),
        Op("pipeline.gold", "pipeline.gold.run_gold"),
    ],
}

# Fewest warm passes a run makes, whatever ``--seconds`` says. On
# ``query`` the first warm pass still runs about 8 % more CPU time outside
# the JIT compilers than later ones (its code is not all compiled yet), so
# an op's median over three passes drops it; ``etl`` shows no such step.
MIN_WARM_PASSES: dict[str, int] = {"query": 3, "etl": 2}

# Every layer the benchmark times, in report order.
LAYERS: tuple[str, ...] = tuple(dict.fromkeys(op.layer for ops in WORKLOADS.values() for op in ops))


def pipeline_call(op: Op, spark, csv_dir: str, wh: str) -> Callable[[], None]:
    """The public pipeline function behind a pipeline op, bound to this
    pass's warehouse directory ``wh``."""
    from importlib import import_module

    bronze = import_module(f"{PKG}.pipeline.bronze")
    silver = import_module(f"{PKG}.pipeline.silver")
    quality = import_module(f"{PKG}.pipeline.quality")
    gold = import_module(f"{PKG}.pipeline.gold")
    readers = import_module(f"{PKG}.sources.readers")

    def gate() -> None:
        quality.silver_gate({
            name: readers.read_parquet(spark, f"{wh}/silver/{name}")
            for name in silver.silver_specs()
        })

    return {
        "pipeline.bronze": lambda: bronze.ingest_csv_dir(spark, csv_dir, f"{wh}/bronze"),
        "pipeline.silver": lambda: silver.run_silver(spark, f"{wh}/bronze", f"{wh}/silver"),
        "pipeline.quality": gate,
        "pipeline.gold": lambda: gold.run_gold(spark, f"{wh}/silver", f"{wh}/gold"),
    }[op.name]
