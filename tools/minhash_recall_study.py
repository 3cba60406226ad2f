"""MinHash (k, bands, rows) recall/latency study — VERDICT r1 item 5.

For each candidate config, measures
  (a) recall by exact-Jaccard decile (portable md5 pipeline,
      llm/minhash.minhash_recall_portable — the same logic q101 pins
      against DuckDB), and
  (b) wall time of the pairs pipeline q46p runs (llm/minhash
      ``portable_signatures`` -> ``band_candidates`` -> exact verify
      ``verified_pairs``, Jaccard >= 0.05) at the same config,
      min of 2 runs,
so the recall/latency frontier is measured, not guessed. Results are
recorded in SCALING.md ("MinHash recall study"); re-run with
``python tools/minhash_recall_study.py [sf_dir]`` after corpus or
signature-code changes.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

CONFIGS = [  # (k, bands) -> rows = k // bands
    (16, 8),
    (32, 8),
    (32, 16),
    (64, 16),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.minhash import (
        band_candidates,
        minhash_recall_portable,
        portable_signatures,
        verified_pairs,
    )
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    spark = get_spark()
    d = load_table(spark, sf_dir, "documents").cache()
    d.count()
    print(f"sf_dir={sf_dir} docs={d.count()}")
    print(f"{'k':>3} {'b':>3} {'r':>3}  {'t_pairs_s':>9}  recall by jaccard decile")
    for k, bands in CONFIGS:
        rows = k // bands
        rec = {
            r["jacc_band"]: (r["n_hit"], r["n_exact"], r["recall"])
            for r in minhash_recall_portable(
                d, "doc_id", "text", n=3, k=k, bands=bands
            ).collect()
        }
        times = []
        for _ in range(2):
            spark.catalog.clearCache()
            d2 = load_table(spark, sf_dir, "documents")
            t0 = time.time()
            sh, both = portable_signatures(d2, "doc_id", "text", n=3, k=k)
            cands = band_candidates(both, "doc_id", k, bands)
            verified_pairs(cands, sh, sh, both, both, "doc_a", "doc_b", k=20).count()
            times.append(time.time() - t0)
        bandstr = "  ".join(
            f"j{b/10:.1f}:{h}/{n}" for b, (h, n, _) in sorted(rec.items())
        )
        print(f"{k:>3} {bands:>3} {rows:>3}  {min(times):>9.2f}  {bandstr}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
