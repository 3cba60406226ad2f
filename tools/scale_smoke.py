"""sf1.0 scale smoke (VERDICT r10 item 3): time the most expensive
registered queries one decade above the driver's largest shipped SF and
assert the scale-up stays inside budget.

Usage:
    python tools/gen_sf.py            # once: builds .tmp/sf1.0 (~150 MB)
    python tools/scale_smoke.py       # times QUERIES at sf0.1 then sf1.0

Budget: each query's sf1.0 wall-clock must be <= BUDGET_X x its sf0.1
wall-clock measured in the SAME process (default 15x for a 10x data
step, the VERDICT r10 allowance for shuffle/spill superlinearity plus
host noise; one decade of superlinearity beyond that is an O(n^2)
cliff, which is exactly what this smoke exists to catch). Exit code 1
on any blown budget so the round checklist can gate on it.

The query list = the 10 most expensive rows of BENCH_r10.json's
per-query table + q330 (the composition row, dedup-heavy and new).
Timing is min-of-REPS full executions with cache clears between runs
(bench.py's methodology); sf0.1 runs first so both scales see the same
warmed JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
from brazilian_e_commerce_data_pipeline_analytics_spark.scratch import scratch_path  # noqa: E402

QUERIES = (
    "q01_pricing_summary",
    "q02_items_per_order",
    "q20_monthly_revenue_yoy",
    "q45_ngram_jaccard_pairs",
    "q46p_minhash_lsh_portable",
    "q141_bpe_merges",
    "q143_semdedup",
    "q197_tokenizer_fertility",
    "q198_idf_weighted_minhash",
    "q245_stream_gold_yoy",
    "q330_curation_pipeline",
    # round-12 additions: the vectorized SemDeDup companion (the
    # registered 100 TB path — must hold the DEFAULT budget with no
    # override), the df-capped Jaccard config (sum(df^2) at sf1.0:
    # 251M uncapped -> 20.6k capped), and the incremental composition
    "q342_semdedup_vectorized",
    "q343_ngram_jaccard_capped",
    "q344_incremental_curation",
    "q347_knn_vectorized_topk",
    "q348_boiler_epoch_freeze",
    # round-13 additions: the versioned-release composition and the
    # incremental chain with the frozen boiler inline
    "q349_release_manifest",
    "q350_incremental_frozen_chain",
)

BUDGET_X = 15.0
# Per-query overrides for DOCUMENTED superlinearity that has a
# why-not in the query's source. Every entry must cite the comment
# that justifies it; an empty dict is the healthy state — reached in
# r13 (VERDICT r12 item 5 option b): the two evidence-twin rows that
# carried overrides (q143 fold-exact SemDeDup at 50x, q45 uncapped
# exact Jaccard at 20x) now run over BOUNDED evaluation slices
# (_Q143_EVAL_CAP / _Q45_EVAL_CAP — no-ops at every driver/bench
# scale, binding only at sf1.0+), so they hold the default budget;
# their uncapped production companions are q342/q343.
BUDGET_OVERRIDES = {}
REPS = 2

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = scratch_path("sf1.0")


def _time_query(spark, builder, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(REPS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        builder(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    # Defaults time sf0.1 -> sf1.0 over QUERIES; --small/--big/--queries
    # retarget the same harness at any adjacent pair of scales (r12: a
    # second decade, .tmp/sf1.0 -> .tmp/sf10, over the scale-safe rows).
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--small", default=SF_SMALL)
    ap.add_argument("--big", default=SF_BIG)
    ap.add_argument("--queries", default=",".join(QUERIES),
                    help="comma-separated registered query names")
    ap.add_argument("--heap", default="8g")
    args = ap.parse_args()
    names = tuple(n for n in args.queries.split(",") if n)
    if not os.path.isdir(args.big):
        sys.exit(f"{args.big} missing — run `python tools/gen_sf.py` first")

    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    # sf1.0 results are 10x the driver-harness scale (q02 collects
    # 1.5M rows); the 1g default driver heap OOMs the local JVM, which
    # in local mode kills executors too. 8g is still <7% of the box.
    spark = get_spark(
        app_name="bedpa-scale-smoke",
        extra_conf={"spark.driver.memory": args.heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm

    rows, blown = [], []
    for name in names:
        t_small = _time_query(spark, qs[name], args.small)
        t_big = _time_query(spark, qs[name], args.big)
        ratio = t_big / t_small if t_small > 0 else float("inf")
        budget = BUDGET_OVERRIDES.get(name, BUDGET_X)
        ok = ratio <= budget
        rows.append((name, t_small, t_big, ratio, ok))
        if not ok:
            blown.append(name)
        print(
            f"{name:32s} sf0.1 {t_small:7.2f}s  sf1.0 {t_big:7.2f}s  "
            f"x{ratio:5.1f}  {'ok' if ok else 'OVER BUDGET'}",
            flush=True,
        )

    print("\n| query | sf0.1 s | sf1.0 s | ratio | in budget |")
    print("|---|---|---|---|---|")
    for name, ts, tb, r, ok in rows:
        print(f"| {name} | {ts:.2f} | {tb:.2f} | {r:.1f}x | {'yes' if ok else 'NO'} |")
    print(
        json.dumps(
            {
                "metric": "sf1_scale_smoke",
                "small": args.small,
                "big": args.big,
                "budget_x": BUDGET_X,
                "blown": blown,
                # per-query effective budget + measured ratio (ADVICE
                # r11): a ratio that passed under a BUDGET_OVERRIDES
                # entry is visible as such in the machine-readable
                # record, not just in this file's source.
                "queries": {
                    n: {
                        "sf0.1": round(ts, 3),
                        "sf1.0": round(tb, 3),
                        "ratio": round(r, 2),
                        "budget_x": BUDGET_OVERRIDES.get(n, BUDGET_X),
                    }
                    for n, ts, tb, r, _ in rows
                },
            }
        )
    )
    if blown:
        sys.exit(1)


if __name__ == "__main__":
    main()
