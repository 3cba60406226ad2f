"""Physical-plan inspection helpers (SURVEY.md §4).

The scale contract of every operator is a claim about its plan —
"this join broadcasts", "this filter reaches the scan", "this stays in
whole-stage codegen". These helpers turn those claims into assertions so
tests/test_plans.py can pin them, the same way the value tests pin
results. At 100 TB a regressed plan IS a correctness bug.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans in the plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line.removeprefix("PushedFilters:").strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — what each scan actually reads (column
    pruning evidence)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line.removeprefix("ReadSchema:").strip())
    return out


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan crosses into a Python worker (BatchEvalPython /
    ArrowEvalPython / MapInPandas...) — the slow path we keep out of core
    operators."""
    plan = formatted_plan(df)
    return any(
        marker in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "EvalPython", "PythonUDF")
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges
    excluded) — the thing to minimize at scale.

    Counts only the per-node detail headers ``(N) Exchange`` so each
    exchange is counted once (the plan tree repeats every node)."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange\b", line.strip())
    )


def jobs_started(spark: SparkSession) -> int:
    """Spark jobs the session's context has started so far, from the
    status store once the listener bus has drained (job ids are handed
    out in order from 0). The difference of two reads counts the jobs
    between them."""
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0
