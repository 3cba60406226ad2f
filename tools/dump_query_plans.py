"""Dump ``.explain('formatted')`` of the named queries into a directory:

    python tools/dump_query_plans.py [--sf-dir DIR] <outdir> <suffix> query [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` per query, each built over the
fixture directory ``--sf-dir`` (default ``/root/testdata/sf0.001``).
Run it once on the tree before a change (suffix=before) and once after
it (suffix=after) to diff the plan shapes a change claims. sf0.001 keeps
building the queries cheap (the chain rows materialize checkpoints at
build time); plan SHAPES are scale-independent.

Expression ids (``doc_id#537L``), exchange ``plan_id``s, RDD ids
(``MapPartitionsRDD[1060]``, in checkpointed scans) and the suffixes of
Python-built lambda variables (``lambda x_172``) come from
process-wide counters, so building one extra Column before a query
shifts all of them. Paths under the scratch root (``.tmp/``) carry
per-process random parts too: the ``<prefix>_<uuid8>`` suffix of a
fresh run directory and the 12-hex commit id of a versioned-table
snapshot. Each dump renumbers all of these in order of first
appearance, so two dumps of one tree compare equal as they are and a
before/after pair differs only where the plan does.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# global-counter ids: expression ids (``#537``, ``[id=#12]``), exchange
# ids (``plan_id=224``), RDD ids (``RDD[1060]``) and PySpark lambda
# variable suffixes (``lambda x_172``), each renumbered separately
_COUNTER_IDS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"(lambda [xyz]_)(\d+)"),
)

# per-process random parts of scratch paths: fresh run-dir suffixes
# (``gold_daily_sf0.001_<key>_12d2e460/``) and snapshot commit ids
# (``data/2024-01-02/3f9a0c1b2d4e/``), each renumbered separately
_SCRATCH_PATH = re.compile(r"/\.tmp/[^\s,\[\]]*")
_RANDOM_PATH_PARTS = (
    re.compile(r"(_)([0-9a-f]{8})(?=/|$)"),
    re.compile(r"(/)([0-9a-f]{12})(?=/|$)"),
)


def stable_ids(plan: str) -> str:
    """``plan`` with every global-counter id renumbered 0, 1, 2, ... in
    order of first appearance."""
    for pat in _COUNTER_IDS:
        seen: dict[str, int] = {}
        plan = pat.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))), plan
        )
    for pat in _RANDOM_PATH_PARTS:
        seen = {}
        plan = _SCRATCH_PATH.sub(
            lambda p: pat.sub(
                lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))),
                p.group(0),
            ),
            plan,
        )
    return plan


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001", help="fixture directory")
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()
    outdir, suffix, names = args.outdir, args.suffix, args.names
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    qs = spark_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump-query-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.catalog.clearCache()
        try:
            plan = stable_ids(formatted_plan(qs[name](spark, args.sf_dir)))
        except Exception as exc:  # noqa: BLE001 — record instead of abort
            plan = f"PLAN DUMP FAILED: {exc!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan + "\n")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
