"""Min-of-N isolated timing of a SUBSET of registered queries, using
exactly bench.py's methodology (clearCache between reps, collect as the
drain, min aggregation) — the A/B tool for optimization work.

    python tools/time_queries.py q344_incremental_curation q349_release_manifest \
        [--sf /root/testdata/sf0.1] [--reps 3]

Prints one JSON line: each query's best time (``queries``), the Spark
jobs it started over all its timed reps (``jobs``, from the status
store), and the same effective-cores probe bench.py uses so reads at
different host width are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]

    import bench
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import jobs_started
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    unknown = [n for n in args if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # same warmup as bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        qs["q01_pricing_summary"](spark, warm_dir).collect()

    cores_pre = bench._effective_cores()
    out, jobs = {}, {}
    for name in args:
        best = float("inf")
        j0 = jobs_started(spark)
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            rows = qs[name](spark, sf_dir).collect()
            best = min(best, time.time() - t0)
            assert rows is not None
        out[name] = round(best, 3)
        jobs[name] = jobs_started(spark) - j0
    cores_post = bench._effective_cores()
    print(json.dumps({
        "queries": out,
        "jobs": jobs,
        "total": round(sum(out.values()), 3),
        "sf_dir": sf_dir,
        "reps": reps,
        "effective_cores": {"pre": cores_pre, "post": cores_post},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
