"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,etl} --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates the seed's inputs (or
reuses them from ``.perfbench/inputs``), copies them to a freshly named
directory, starts one worker process that sets up the engine and runs
the workload (``worker.py``), checks every result against its
independent answer (``verify.py``) and prints one JSON object as the
last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The exit code is 0 only when every
op succeeded and matched; a failing op is named and counted, the run
goes on, and the exit code is 1. Without the engine next to it the run
prints no result and exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.workloads import LAYERS, PKG, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# full: sf0.01 star (the engine's correctness-gate scale) and 2000 Olist
# orders; tiny: sf0.001 and a few hundred orders, for the benchmark's tests.
SIZES = {
    "full": {"scale": 0.01, "n_docs": 500, "n_vecs": 250, "n_orders": 2000},
    "tiny": {"scale": 0.001, "n_docs": 200, "n_vecs": 100, "n_orders": 300},
}
RUN_TIMEOUT_S = 170

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_gmean_cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}
EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "task_cpu_s": "s", "slot_busy": "ratio", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "peak_exec_mem_mb": "MB",
    "gc_s": "s", "input_mb": "MB", "output_mb": "MB", "output_files": "count",
    "failed_tasks": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {"session.get_spark_s": "s", "registry.load_s": "s"}
    units.update({f"catalyst.{p}_s": "s" for p in ("analysis", "optimization", "planning")})
    for layer in LAYERS:
        if layer.startswith("pipeline."):
            units[f"{layer}_s"] = "s"
        else:
            units[f"{layer}.build_s"] = "s"
            units[f"{layer}.collect_s"] = "s"
    units.update({f"{layer}.cpu_s": "s" for layer in LAYERS})
    units["jvm.jit_cpu_s"] = "s"
    units.update({f"exec.{k}": u for k, u in EXEC_UNITS.items()})
    units.update({"wall.cold_pass_s": "s", "wall.pass_s": "s", "wall.op_gmean_s": "s"})
    units.update({"trace.pass_cpu_s": "s", "trace.probe_s": "s"})
    return units


# -- inputs ------------------------------------------------------------------


def _generate(kind: str, dst: str, seed: int, size: dict) -> None:
    from perfbench import gen

    if kind == "star":
        gen.star(dst, seed, size["scale"], size["n_docs"], size["n_vecs"])
    else:
        gen.olist(dst, seed, size["n_orders"])


def cached_inputs(kind: str, seed: int, size_name: str) -> tuple[str, str]:
    """Directory and content digest of the seed's ``star`` or ``csv``
    inputs, generated on first use. Generation is not part of set-up."""
    from perfbench.verify import files_digest

    d = os.path.join(WORK, "inputs", size_name, f"s{seed}", kind)
    marker = os.path.join(d, "_DIGEST")
    if not os.path.exists(marker):
        tmp = f"{d}.{uuid.uuid4().hex[:8]}.tmp"
        _generate(kind, tmp, seed, SIZES[size_name])
        dig = files_digest(tmp)
        with open(os.path.join(tmp, "_DIGEST"), "w", encoding="ascii") as fh:
            fh.write(dig)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        os.replace(tmp, d)
    with open(marker, encoding="ascii") as fh:
        return d, fh.read().strip()


def _copy_inputs(src: str, dst: str) -> int:
    """Copy generated files (not the marker); returns their total bytes."""
    os.makedirs(dst)
    total = 0
    for name in sorted(os.listdir(src)):
        if name != "_DIGEST":
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
            total += os.path.getsize(os.path.join(dst, name))
    return total


# -- processes ---------------------------------------------------------------


def spawn_worker(cfg: dict, run_dir: str, deadline: float) -> tuple[float | None, bool]:
    """Run the worker; returns (seconds from spawn to READY, whether
    DONE followed it)."""
    path = os.path.join(run_dir, "worker.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    env = dict(os.environ, PYTHONPATH=ROOT, TZ="UTC", TMPDIR=cfg["tmp"],
               SPARK_LOCAL_DIRS=cfg["tmp"], SPARK_GRAFT_CPUS=str(cfg["cpus"]),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    ready = None
    done = False
    with open(os.path.join(run_dir, "worker.log"), "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join("perfbench", "worker.py"), path],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, start_new_session=True,
        )
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), procs.stop, (proc,))
        timer.start()
        try:
            # The JVM and its Python workers share this pipe; lines other
            # than the two protocol lines are the program's own output.
            for line in proc.stdout:
                line = line.strip()
                if line == b"READY" and ready is None:
                    ready = time.perf_counter() - t0
                elif line == b"DONE" and ready is not None:
                    done = True
                    break
        finally:
            timer.cancel()
            # Nothing to shut down gracefully: all state is under run_dir.
            procs.stop(proc)
            proc.stdout.close()
    return ready, done


def _cpu_ticks() -> tuple[int, int] | None:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            ticks = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(ticks[:8]), ticks[7] if len(ticks) > 7 else 0


def _log_tail(run_dir: str, n: int = 30) -> str:
    try:
        with open(os.path.join(run_dir, "worker.log"), encoding="utf-8", errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def _clean_fixtures(tag: str) -> None:
    """Drop the engine's ``.tmp`` fixtures keyed on this run's input name."""
    base = os.path.join(ROOT, ".tmp")
    for dirpath, dirnames, filenames in os.walk(base):
        depth = os.path.relpath(dirpath, base).count(os.sep)
        for name in list(dirnames) + filenames:
            if tag in name:
                path = os.path.join(dirpath, name)
                if os.path.isdir(path) and not os.path.islink(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)
        dirnames[:] = [d for d in dirnames if tag not in d] if depth < 2 else []


# -- checking and metrics ----------------------------------------------------


def check(result: dict, cfg: dict, star_digest: str | None) -> list[dict]:
    """Compare every op of every pass with its independent answer; returns
    the failures and adds a ``verify_s`` to each op record. A check that
    raises fails its op; the others still run."""
    from perfbench import verify

    ops = {op.name: op for op in WORKLOADS[cfg["workload"]]}
    oracle = verify.Oracle(cfg["sf_dir"], result["tables"], star_digest,
                           os.path.join(WORK, "oracle"), cfg["cpus"])
    gold0 = None

    def why_wrong(rec: dict, op, p: dict, problems: dict) -> str | None:
        nonlocal gold0
        if op.query is not None:
            want = oracle.answer(result["oracles"][op.query])
            if rec["digest"] == want["digest"]:
                return None
            got = {"cols": rec["cols"], "rows": rec.get("rows", [])}
            return "differs from the oracle" + (
                f": {verify.first_difference(got, want)}" if "rows" in rec else "")
        if op.name not in ("pipeline.bronze", "pipeline.silver", "pipeline.gold"):
            return None  # the quality gate raises inside its op when it fails
        if not problems:
            problems.update(verify.check_warehouse(cfg["csv_dir"], p["wh"], cfg["cpus"]))
        found = list(problems[op.name])
        if op.name == "pipeline.gold":
            dig = verify.gold_digest(p["wh"], cfg["cpus"])
            gold0 = gold0 or dig
            if dig != gold0:
                found.append("gold differs from the first pass")
        return "; ".join(found) or None

    failures = []
    try:
        for n, p in enumerate(result["passes"]):
            problems: dict = {}
            for rec in p["ops"]:
                t0 = time.perf_counter()
                why = rec["error"]
                if why is None:
                    try:
                        why = why_wrong(rec, ops[rec["op"]], p, problems)
                    except Exception as exc:  # noqa: BLE001 - counted, the run goes on
                        why = f"check raised {type(exc).__name__}: {exc}"
                rec["verify_s"] = time.perf_counter() - t0
                if why is not None:
                    failures.append({"pass": n, "op": rec["op"], "why": why})
    finally:
        oracle.close()
    return failures


def _median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def _work_cpu(rec: dict) -> float:
    """An op's CPU seconds without the JIT compilers' (see ``procs``)."""
    return rec["cpu"] - rec["jit"]


def _op_medians(warm: list[dict], value) -> list[float]:
    """Each op's median ``value(record)`` over the warm passes. Their sum
    is the median warm pass taken op by op, so a stall of the host during
    one op of one pass is dropped, not added to that pass; their geometric
    mean is the typical op, which a change to any one op moves by the same
    share whether the op is short or long."""
    return [statistics.median(value(p["ops"][i]) for p in warm) for i in range(len(warm[0]["ops"]))]


def _jit_line(passes: list[dict]) -> str:
    cold = sum(r["jit"] for r in passes[0]["ops"])
    warm = statistics.median(sum(r["jit"] for r in p["ops"]) for p in passes[1:])
    return (f"JIT compiler CPU: cold pass {cold:.2f} s (in cold_pass_cpu_s), "
            f"median warm pass {warm:.2f} s (not in pass_cpu_s and op_gmean_cpu_s)")


def end_to_end(result: dict, setup_s: float, input_bytes: int) -> dict:
    passes = result["passes"]
    warm = passes[1:]
    writes = [p["written_mb"] * 1e6 / input_bytes if p["written_mb"] is not None else None
              for p in warm]
    cpu = _op_medians(warm, _work_cpu)
    return {
        "setup_s": setup_s,
        # JIT included: a fresh process pays for all of it, and less JIT
        # work in the cold pass means more interpreted work in the same pass
        "cold_pass_cpu_s": sum(r["cpu"] for r in passes[0]["ops"]),
        "pass_cpu_s": sum(cpu),
        "op_gmean_cpu_s": statistics.geometric_mean(cpu),
        "peak_rss_mb": result["peak_rss_mb"],
        "write_amp": _median(writes),
    }


def per_layer(result: dict, cpus: int) -> dict:
    warm = result["passes"][1:]
    rows = []
    for p in warm:
        row = dict.fromkeys(per_layer_units(), 0.0)
        row.update({k: v for k, v in result["setup_layers"].items() if k in row})
        execs = []
        for r in p["ops"]:
            row[f"{r['layer']}.cpu_s"] += _work_cpu(r)
            row["jvm.jit_cpu_s"] += r["jit"]
            if r["layer"].startswith("pipeline."):
                row[f"{r['layer']}_s"] += r["t"]
            else:
                row[f"{r['layer']}.build_s"] += r["build_s"]
                row[f"{r['layer']}.collect_s"] += r["collect_s"]
                for ph in ("analysis", "optimization", "planning"):
                    key = f"catalyst.{ph}_s"
                    v = (r.get("phases") or {}).get(ph)
                    row[key] = None if v is None or row[key] is None else row[key] + v
            execs.append(r.get("exec"))
        if any(e is None for e in execs):
            row.update(dict.fromkeys((f"exec.{k}" for k in EXEC_UNITS), None))
        else:
            for e in execs:
                for k, v in e.items():
                    key = f"exec.{k}"
                    row[key] = max(row[key], v) if k == "peak_exec_mem_mb" else row[key] + v
            row["exec.slot_busy"] = row["exec.task_run_s"] / (p["t"] * cpus)
        row["trace.probe_s"] = p["probe_s"]
        rows.append(row)
    out = {k: _median(r[k] for r in rows) for k in per_layer_units()}
    wall = _op_medians(warm, lambda r: r["t"])
    out["wall.cold_pass_s"] = result["passes"][0]["t"]
    out["wall.pass_s"] = sum(wall)
    out["wall.op_gmean_s"] = statistics.geometric_mean(wall)
    out["trace.pass_cpu_s"] = sum(_op_medians(warm, _work_cpu))  # as pass_cpu_s, for the overhead
    return out


def _self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time by span name: duration minus the children's."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out: dict[str, float] = {}
    for s in spans:
        key = s["name"].split(":")[0]
        out[key] = out.get(key, 0.0) + s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
    return out


def write_trace(path: str, result: dict, cfg: dict) -> None:
    spans = result["spans"]
    by_op = {s["op_id"]: s["id"] for s in spans if s["name"].startswith("op:")}
    for n, p in enumerate(result["passes"]):
        for r in p["ops"]:
            op_id = f"p{n}:{r['op']}"
            spans.append({"id": len(spans), "name": "verify.oracle", "parent": by_op[op_id],
                          "op_id": op_id, "start_s": None, "end_s": None,
                          "duration_s": r.get("verify_s"), "clock": "parent, after the worker"})
    timed = [s for s in spans if s["start_s"] is not None]
    doc = {
        "workload": cfg["workload"],
        "seed": cfg["seed"],
        "spans": spans,
        "self_time_s": _self_times(timed),
        "ops": [
            {k: r.get(k) for k in ("op", "layer", "t", "cpu", "jit", "build_s", "collect_s",
                                   "phases", "exec", "probe_s", "verify_s", "error")} | {"pass": n}
            for n, p in enumerate(result["passes"]) for r in p["ops"]
        ],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)


# -- main --------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--fail-op", default=None, help="make this op raise (tests the failure path)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its worker group and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "fixtures_gen.py")
    ):
        print(f"perfbench: run from the repository root; {PKG}/ and tests/fixtures_gen.py "
              f"not found under {ROOT}", file=sys.stderr)
        return 2
    tag = f"pb{uuid.uuid4().hex[:10]}"
    run_dir = os.path.join(WORK, "runs", tag)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        # Each workload gets only the inputs its ops read: the star for
        # the registry queries, the CSVs for the pipeline.
        ops = WORKLOADS[args.workload]
        sf_dir = csv_dir = star_digest = None
        input_bytes = 0
        if any(op.query is not None for op in ops):
            star, star_digest = cached_inputs("star", args.seed, args.size)
            sf_dir = os.path.join(run_dir, f"sf_{args.workload}_s{args.seed}_{tag}")
            input_bytes += _copy_inputs(star, sf_dir)
        if any(op.query is None for op in ops):
            csv, _ = cached_inputs("csv", args.seed, args.size)
            csv_dir = os.path.join(run_dir, "csv")
            input_bytes += _copy_inputs(csv, csv_dir)
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "fail_op": args.fail_op,
            "cpus": len(os.sched_getaffinity(0)), "tmp": os.path.join(run_dir, "tmp"),
            "sf_dir": sf_dir, "csv_dir": csv_dir,
            "warehouse": os.path.join(run_dir, "wh"), "out": os.path.join(run_dir, "result.json"),
        }
        ticks0 = _cpu_ticks()
        setup_s, ok = spawn_worker(cfg, run_dir, deadline)
        ticks1 = _cpu_ticks()
        if not ok:
            print(f"perfbench: worker failed\n{_log_tail(run_dir)}", file=sys.stderr)
            return 2
        with open(cfg["out"], encoding="utf-8") as fh:
            result = json.load(fh)
        failures = check(result, cfg, star_digest)
        attempted = sum(len(p["ops"]) for p in result["passes"])
        failed = len(failures)
        # pass_cpu_s of the latest untraced run of this workload, seed and
        # size, for the traced run's overhead line
        untraced = os.path.join(WORK, "untraced", f"{args.workload}_{args.size}_s{args.seed}.json")
        if args.trace:
            metrics = per_layer(result, cfg["cpus"])
            units = per_layer_units()
            trace_path = os.path.join(WORK, "traces", f"{args.workload}_s{args.seed}_{tag}.json")
            write_trace(trace_path, result, cfg)
            print(f"spans and per-op exec/catalyst numbers: {os.path.relpath(trace_path, ROOT)}")
            print(f"tracing overhead per pass: {metrics['trace.probe_s']:.4f} s in the probes "
                  "(outside the op timers)")
            if os.path.exists(untraced):
                with open(untraced, encoding="utf-8") as fh:
                    base = json.load(fh)["pass_cpu_s"]
                print(f"tracing overhead on pass_cpu_s: {metrics['trace.pass_cpu_s'] - base:+.4f} s "
                      f"(traced {metrics['trace.pass_cpu_s']:.4f} s - untraced {base:.4f} s)")
            else:
                print("tracing overhead on pass_cpu_s: no untraced run of this workload and seed yet")
        else:
            metrics = end_to_end(result, setup_s, input_bytes)
            units = END_TO_END_UNITS
            os.makedirs(os.path.dirname(untraced), exist_ok=True)
            with open(untraced, "w", encoding="utf-8") as fh:
                json.dump({"pass_cpu_s": metrics["pass_cpu_s"]}, fh)
        for f in failures:
            print(f"FAILED pass {f['pass']} op {f['op']}: {f['why']}")
        print(f"workload {args.workload} seed {args.seed}: {len(result['passes'])} passes "
              f"(1 cold), {attempted} ops, error_rate {failed / attempted:.4f}")
        print(_jit_line(result["passes"]))
        if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
            # time the hypervisor ran other guests on this host's CPUs; it
            # stretches every wall-clock metric of the run
            steal = (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])
            print(f"host CPU steal while the worker ran: {100 * steal:.1f}% of CPU time")
        for k, v in metrics.items():
            print(f"  {k:40s} {v if v is None else f'{v:.6g}'} {units[k]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        _clean_fixtures(tag)


if __name__ == "__main__":
    sys.exit(main())
