"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the representative query set on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Per-query time = full plan execution including the parquet scan (cold
per query; Spark caches nothing between queries here), measured by
draining the result with a driver-side count-ish action that still
materializes every row (collect), matching what the driver's harness
observes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family — scan+agg, wide-key agg, dim-join
# chain, window YoY, top-k, frame window, events window-agg, text stats,
# shingle-join dedup, MinHash LSH, brute-force + LSH ANN, streaming parity.
#
# FREEZE POLICY (VERDICT r10 item 4): the 24-query BENCH_QUERIES list was
# frozen at round 3 so the headline "value" is comparable across every
# BENCH_r*.json since; later rounds add queries ONLY to BENCH_EXTENDED
# (measured separately under "queries_extended", additive, never folded
# into the headline total). The cross-round TREND number is
# "value_normalized" (headline total corrected to 32 effective cores via
# the calibration probes) — raw "value" swings 1.0-2.1x with host load.
BENCH_QUERIES = (
    "q01_pricing_summary",
    "q02_items_per_order",
    "q03_region_revenue",
    "q20_monthly_revenue_yoy",
    "q21_top10_customers",
    "q22_top3_parts_per_brand",
    "q24_moving_avg_7d",
    "q27_price_percentiles",
    "q28_event_funnel",
    "q30_events_hourly",
    "q36_salted_user_agg",
    "q37_sliding_windows",
    "q40_token_stats",
    "q44_exact_dedup",
    "q45_ngram_jaccard_pairs",
    # r6: q46 (xxhash LSH, rows-only) retired from the registry; its
    # value-exact twin q46p (same banded-LSH + exact-verify shape,
    # portable md5 hashes) takes the headline slot. Cross-round note:
    # q46p does strictly more work (md5 vs xxhash64), so this swap can
    # only raise, never flatter, the headline total.
    "q46p_minhash_lsh_portable",
    "q48_knn_bruteforce",
    "q51_ann_lsh_bucketed",
    "q54_sessions_batch",
    "q57_knn_pandas_udf",
    "q60_native_session_window",
    "q61_subword_token_stats",
    "q62_range_join_tiers",
    # q53 sits last, out of numeric order (r10 artifact; VERDICT r11
    # nit c). Left in place deliberately: the tuple is FROZEN and
    # execution ORDER affects per-query JVM warmth, so reordering would
    # perturb cross-round per-query comparability for zero benefit.
    "q53_stream_hourly",
)

# Round-3 additions measured SEPARATELY (queries_extended) so the
# 24-query headline total stays comparable across rounds; one per new
# family — regex curation, iterative BPE, cluster-then-compare dedup,
# sorted lakehouse write, Morton clustering.
BENCH_EXTENDED = (
    "q139_pii_redaction",
    "q141_bpe_merges",
    "q143_semdedup",
    "q145_range_sorted_write",
    "q147_zorder_layout",
    # round-4 additions: ML primitives + the bucket-expansion range join
    "q180_interval_bucket_join",
    "q186_bigram_lm",
    "q187_kmeans_lloyd",
    # round-5 additions: deep-BPE fertility + weighted LSH (the two new
    # heavyweight families; the stats/cube queries are scan-bound)
    "q197_tokenizer_fertility",
    "q198_idf_weighted_minhash",
    # round-6 additions: the UDTF lateral expansion (Python boundary),
    # the full streaming-gold upsert cycle, bitmap exact distinct
    "q244_udtf_polymorphic_ngrams",
    "q245_stream_gold_yoy",
    "q252_bitmap_exact_distinct",
    # round-7 additions: the Arrow-native boundary (RecordBatch path)
    # and the broadcast-eval decontamination pass
    "q264_mapinarrow_doc_bytes",
    "q274_semantic_decontamination",
    # round-11 addition: the end-to-end curation composition — the one
    # query whose cost is the SUM of the dedup/quality/mixture/shard
    # stages chained through localCheckpoint stage boundaries
    "q330_curation_pipeline",
    # round-12 additions: the vectorized SemDeDup companion (q143's
    # 100 TB path — watch the q143:q342 ratio as the vectorization
    # dividend), the df-capped Jaccard config, and the incremental
    # curation composition (q330's batch-vs-history shape)
    "q342_semdedup_vectorized",
    "q343_ngram_jaccard_capped",
    "q344_incremental_curation",
    # round-13 additions: the release-as-versioned-table composition
    # (q344's chain + two manifest commits + the time-travel read-back)
    # and the incremental chain with the frozen boiler filter inline
    "q349_release_manifest",
    "q350_incremental_frozen_chain",
)


def _spin_work(n: int) -> int:
    acc = 0
    for i in range(n):
        acc += i * i
    return acc


def _effective_cores() -> float | None:
    """How many of the advertised cores the host actually delivers to a
    full-width CPU-bound load: wall-time ratio of one worker running a
    fixed spin vs all workers running it concurrently. Self-calibrating
    — no cross-round baseline or quiet floor needed, which is what
    finally settled the r9 bench mystery: with steal ~0 and the
    single-core probe on its quiet floor, this read 18.7/32 — the box
    physically delivers ~59% of nominal width (SMT siblings /
    co-tenant pinning the guest cannot see), explaining a uniform
    ~+20% on every 32-wide stage with no per-query suspect."""
    import multiprocessing as mp

    workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    work = 12_000_000  # ~0.7s single, dominates pool startup
    try:
        t0 = time.perf_counter()
        _spin_work(work)
        single = time.perf_counter() - t0
        with mp.Pool(workers) as pool:
            t0 = time.perf_counter()
            pool.map(_spin_work, [work] * workers)
            wide = time.perf_counter() - t0
        if wide <= 0:
            return None
        return round(workers * single / wide, 1)
    except OSError:
        return None


def _spin_probe(n: int = 3) -> float:
    """Median wall time of a fixed CPU-bound workload (~100 ms quiet).

    The host shows 30-70% wall-clock swings from neighbor load
    (TODO_NEXT r2); this probe calibrates how contended the box is
    RIGHT NOW, so cross-round bench deltas can be read against it. The
    workload is single-threaded pure Python — immune to Spark state,
    sensitive to exactly the CPU stealing that skews the query timings.
    """
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return round(samples[n // 2], 4)


def _mc_probe(spark, n: int = 3) -> tuple[float, float | None]:
    """Min wall time of a fixed 32-task shuffle micro-job (~0.5s quiet).

    The single-thread _spin_probe is blind to multi-core contention: r8
    showed loadavg ~3 inflating every 32-way query stage +25-70% while
    the 1-thread probe still read a quiet ~0.12. This job exercises
    exactly what the bench queries exercise — 32 parallel map tasks,
    a 32->32 shuffle, a hash aggregate — so neighbor CPU steal that
    slows the queries slows this number proportionally. Read bench
    deltas against BOTH probes: spin ~0.10-0.13 AND mc near its quiet
    floor (~0.39) means the host is genuinely quiet; mc inflated with
    spin quiet means multi-core steal, and the query timings are
    suspect.

    Returns (min wall sec, steal share). The share is the /proc/stat
    steal delta across the probe window as a fraction of DEMANDED
    (non-idle) CPU: a whole-run steal average dilutes to ~0 because
    steal only accrues while we actually ask for all 32 cores (r9
    measured 0.08% whole-run vs ~12% of demanded ticks under a
    32-wide spin on the same host) — so it is sampled here, during a
    known full-width load, where it means something."""
    s0 = _proc_stat()
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        (
            spark.range(0, 8_000_000, 1, 32)
            .selectExpr("id % 65536 AS k")
            .groupBy("k")
            .count()
            .count()
        )
        samples.append(time.perf_counter() - t0)
    s1 = _proc_stat()
    share = None
    if s0 is not None and s1 is not None:
        demanded = (s1[2] - s0[2]) - (s1[1] - s0[1])
        if demanded > 0:
            share = round(100.0 * (s1[0] - s0[0]) / demanded, 2)
    return round(min(samples), 4), share


def _proc_stat() -> tuple[int, int, int] | None:
    """(steal, idle, total) jiffies from /proc/stat's aggregate cpu line.

    The r9 finding that motivates this: both same-day reads agreed at
    ~23.4s while the single-thread probe sat on its quiet floor (0.114)
    and loadavg was 0 at launch — yet a 32-wide spin test showed 9%
    STEAL plus forced idle, i.e. the hypervisor had shaved ~25% off the
    VM's aggregate capacity. Steal is invisible to loadavg and to any
    in-process probe, but /proc/stat accounts it directly; the delta
    across the whole run is absolute (baseline-free) evidence of how
    much CPU the host actually surrendered while the queries ran."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:9]]
        # user nice system idle iowait irq softirq steal
        return vals[7], vals[3] + vals[4], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    spark = get_spark(app_name="bedpa-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()

    # Warm the JVM/codegen paths with a trivial job so q1 doesn't pay
    # session startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    # JIT-warm the vectorized parquet reader + hash-agg codegen paths on
    # the smallest SF so the first measured query reflects steady-state
    # throughput, not first-call JIT compilation.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        qs["q01_pricing_summary"](spark, warm_dir).collect()
    # Warm the Python-worker pool the same way: spawn one Arrow worker
    # per core and import pandas/numpy in each, so the pandas-path
    # queries measure steady-state Arrow throughput, not process
    # fork+import time (workers are reused for the rest of the session).
    import pandas as _pd

    def _noop(batches):
        for pdf in batches:
            yield _pd.DataFrame({"x": pdf["id"]})

    spark.range(1024).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        _noop, "x long"
    ).collect()

    # Each query is timed REPS times and the MIN is reported:
    # steady-state throughput of the plan, robust to transient host
    # contention (this box shows 30-70% wall-clock swings from
    # neighbors; VERDICT r6 item 5 raised reps 2->3 because the ±25%
    # same-day band had become the limiting factor on perf grading).
    # clearCache() between runs drops any .cache() the first run
    # materialized — Spark's CacheManager matches plans structurally,
    # so without it a later run of a caching query would skip its
    # heaviest stage. Every reported time is therefore a full
    # scan->shuffle->agg execution, just the least-interrupted one.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    def time_query(name: str) -> float:
        best = float("inf")
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            rows = qs[name](spark, sf_dir).collect()
            best = min(best, time.time() - t0)
            assert rows is not None
        return round(best, 3)

    stat0 = _proc_stat()
    probe_pre = _spin_probe()
    cores_pre = _effective_cores()
    mc_pre, steal_pre = _mc_probe(spark)
    timings = {name: time_query(name) for name in BENCH_QUERIES}
    total = round(sum(timings.values()), 3)
    ext = {name: time_query(name) for name in BENCH_EXTENDED}
    mc_post, steal_post = _mc_probe(spark)
    cores_post = _effective_cores()

    # Effective-cores-NORMALIZED headline (VERDICT r9 item 3): the raw
    # total is inflated by however much of the advertised width the host
    # withholds (r9: 18.7-22 of 32 delivered at steal ~0), so the
    # cross-round trend line lost meaning — r7 18.25s -> r9 24.02s with
    # every plan audit clean. First-cut normalization: value *
    # effective_cores/32, i.e. "what this read would cost at nominal
    # width if the run were perfectly wide". It OVER-corrects
    # single-thread-bound spans (they don't scale with width), so read
    # it as a lower bound and the raw value as an upper bound; the
    # regression alarm is: normalized total >20% over r7's 18.25s while
    # effective_cores >= 28 = investigate code, not the host.
    workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    host_cores = len(os.sched_getaffinity(0))
    eff_samples = [c for c in (cores_pre, cores_post) if c]
    eff_mean = round(sum(eff_samples) / len(eff_samples), 1) if eff_samples else None
    # A host narrower than the configured width runs the workers
    # oversubscribed, and the spin probe's ratio then says nothing about
    # the width the queries got: no normalized value for such a read.
    total_normalized = (
        round(total * eff_mean / workers, 3)
        if eff_mean and workers <= host_cores
        else None
    )
    _R7_ANCHOR = 18.25  # r7's quiet-host headline, the trend baseline
    if total_normalized is not None:
        drift = 100.0 * (total_normalized - _R7_ANCHOR) / _R7_ANCHOR
        verdict = (
            "normalized total >20% over the r7 anchor at near-nominal "
            "width: investigate code, not the host"
            if eff_mean >= 28 and drift > 20
            else "within the host-capacity explanation: raw inflation "
            "tracks the withheld width, plans unchanged"
            if drift <= 20
            else "normalized drift >20% but the box is far from nominal "
            "width: re-read on a quieter host before blaming code"
        )
        normalized_note = (
            f"raw {total}s at {eff_mean}/{workers} effective cores -> "
            f"normalized {total_normalized}s vs r7 anchor {_R7_ANCHOR}s "
            f"({drift:+.0f}%): {verdict}"
        )
    elif workers > host_cores:
        normalized_note = (
            f"configured width {workers} exceeds the host's {host_cores} "
            "cores; raw value only"
        )
    else:
        normalized_note = "effective_cores probe unavailable; raw value only"

    # Cross-run min tracker (VERDICT r12 items 4+7): the per-round BENCH
    # artifact snapshots ONE run, and r12's happened to be the round's
    # noisiest (39.9s raw at 20.5 cores) while the quietest same-HEAD
    # read was -2% vs anchor — a standalone reader inferred a
    # regression that never happened. Every bench run now appends its
    # summary to BENCH_HISTORY.jsonl (tracked, so the driver's run sees
    # the builder's quieter reads from the same round/HEAD) and reports
    # the rolling min-normalized alongside its own read.
    hist_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_HISTORY.jsonl")
    # The history entry carries the bulky cross-round context so the
    # printed one-line summary can stay SMALL: r12's driver tail-capture
    # front-truncated the (grown) summary line and the round-over-round
    # comparison died (`prev_bench_ok: false`, VERDICT r13 item 3). The
    # sidecar is tracked, so a standalone reader still gets the full
    # interpretation; the printed line keeps every contract field
    # (metric/value/unit/queries/sf) plus the calibration probes.
    entry = {
        "sha": _git_sha(),
        "width": workers,
        "host_cores": host_cores,
        "time_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "value": total,
        "value_normalized": total_normalized,
        "queries": timings,
        "queries_extended": ext,
        "effective_cores": eff_mean,
        "loadavg1": round(os.getloadavg()[0], 1),
        "normalized_note": normalized_note,
        "context": {
            "anchor_normalized_sec": _R7_ANCHOR,
            "anchor_source": "r7 quiet-host headline",
            "effective_cores_by_round": {
                "r7": "~quiet (anchor)",
                "r9": "18.7-22",
                "r11": "20.4-21.1",
                "r12": "20.2-23.4",
                "r13": "17.6-22.1",
            },
            "alarm_rule": (
                "investigate code only if normalized >20% over "
                "the anchor AND effective_cores >= 28; in the "
                "20-25 band, raw inflation tracks withheld width"
            ),
        },
    }
    history: list[dict] = []
    try:
        with open(hist_path, encoding="utf-8") as fh:
            history = [json.loads(line) for line in fh if line.strip()]
    except (OSError, ValueError):
        history = []
    history.append(entry)
    try:
        with open(hist_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(entry) + "\n")
    except OSError:
        pass
    # The trend's best point is per width: a read at another width (or
    # an entry from before widths were recorded) is not comparable.
    hist_norms = [
        h["value_normalized"] for h in history
        if h.get("width") == workers
        and isinstance(h.get("value_normalized"), (int, float))
    ]
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                # value scaled by measured effective_cores/nominal: the
                # host-capacity-corrected headline (lower bound; raw
                # value is the upper bound). See comment at computation.
                # The r7 anchor for it is 18.25s normalized; the full
                # reading (normalized_note + cross-round context +
                # alarm rule) lives in this run's BENCH_HISTORY.jsonl
                # entry — moved there in r14 so the printed line stays
                # inside the driver's tail-capture window (r12's grown
                # line was front-truncated and killed the
                # round-over-round table; VERDICT r13 item 3).
                "value_normalized": total_normalized,
                "anchor_normalized_sec": _R7_ANCHOR,
                "unit": "sec",
                "queries": timings,
                # round-3 families, excluded from "value" so the headline
                # total stays comparable with BENCH_r01/r02:
                "queries_extended": ext,
                "sf": sf,
                "reps": reps,
                "agg": "min",
                # host-contention calibration: median wall time of a fixed
                # single-thread CPU workload before/after the run. On a
                # quiet host this is ~0.10s; readings far above that mean
                # neighbor CPU steal inflated the query timings too —
                # compare rounds only after normalizing by this floor.
                # loadavg complements it: the 1-thread probe can look
                # quiet while a loaded box still slows 32-way stages.
                "noise_probe_sec": {"pre": probe_pre, "post": _spin_probe()},
                # 32-task shuffle micro-job (min-of-3): the multi-core
                # companion the 1-thread probe can't see — ~0.5s quiet;
                # inflated readings mean neighbor load stole cores from
                # 32-way stages and the query timings are inflated too.
                "mc_probe_sec": {"pre": mc_pre, "post": mc_post},
                # steal as a share of DEMANDED CPU during each mc_probe
                # window (full 32-wide load): the hypervisor-withheld
                # fraction the whole-run average dilutes away. ~0% on a
                # healthy host; r9 measured ~12% under a 32-wide spin
                # while the whole-run figure read 0.08%.
                "mc_steal_pct": {"pre": steal_pre, "post": steal_post},
                # self-calibrating width probe: how many of the
                # advertised cores a full-width spin actually gets
                # (single-vs-wide wall ratio; 32.0 on a healthy box,
                # r9 measured 18.7 at steal ~0). THE number to
                # normalize 32-wide query timings by across rounds.
                "effective_cores": {"pre": cores_pre, "post": cores_post},
                "loadavg": list(os.getloadavg()),
                # whole-run /proc/stat steal delta: blunt (diluted by
                # idle gaps between queries) but absolute and
                # baseline-free; read it with mc_steal_pct above.
                "cpu_steal_pct": _steal_pct(stat0, _proc_stat()),
                # rolling min over the BENCH_HISTORY.jsonl entries at
                # this run's width (this run included): the round's
                # QUIETEST read at that width — compare THIS
                # against the anchor, not the single-run value above,
                # which may be a noisy-host sample (r12's artifact was).
                "history_min_normalized": (
                    round(min(hist_norms), 3) if hist_norms else None
                ),
                "history_runs": len(history),
            }
        )
    )


def _git_sha() -> str | None:
    """HEAD of the checkout this file lives in, or None outside git."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _steal_pct(s0, s1) -> float | None:
    if s0 is None or s1 is None:
        return None
    dtotal = s1[2] - s0[2]
    if dtotal <= 0:
        return None
    return round(100.0 * (s1[0] - s0[0]) / dtotal, 2)


if __name__ == "__main__":
    main()
