"""One Spark process of a benchmark run.

``python3 perfbench/worker.py <config.json>`` starts the engine's
SparkSession, imports the query registry and runs a trivial job, then
prints ``READY`` on stdout; the parent times process start to that line
as the set-up time. Then the worker runs the workload as a closed loop
with one client: passes over the op list, each op drained with
``collect()``, the first pass cold, then warm passes until ``seconds``
have elapsed (at least ``workloads.MIN_WARM_PASSES``).
Every op is timed in wall-clock seconds and in CPU seconds of this
process and its descendants, with the JIT compilers' share apart. Each
result is normalized and hashed after its op's timers stop; the parent
compares the hashes with the oracles once this process is gone.

With ``"trace": true`` it also reads the planning phases and the stage
statistics of every op (``probes.py``) and keeps spans in memory,
returned with the results. Results go to the JSON file ``out``, then
the worker prints ``DONE``; the parent then kills it and every process
it started, so no time is spent stopping Spark.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

class Tracer:
    """Spans kept in memory: name, start, end, parent and op id."""

    def __init__(self):
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, op_id: str | None = None) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent, "op_id": op_id,
            "start_s": start - self.t0, "end_s": end - self.t0,
        })
        return len(self.spans) - 1

    def reserve(self, name: str, start: float, parent: int | None) -> int:
        return self.add(name, start, start, parent)

    def close(self, span_id: int, end: float) -> None:
        self.spans[span_id]["end_s"] = end - self.t0


def _setup(cfg: dict):
    t0 = time.perf_counter()
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cfg["cpus"],
        extra_conf={
            "spark.local.dir": cfg["tmp"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']}",
        },
    )
    t1 = time.perf_counter()
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    spark.range(1).collect()
    layers = {"session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1}
    return spark, queries, layers


def _run_op(op, spark, queries, cfg, wh, keep_rows, meter, tracer, probe, pass_span, op_id):
    """Run one op; returns its record. Timing stops when the result is
    drained; normalization and the trace probes run after. The cold
    pass keeps the normalized rows, to show the first difference from
    the oracle if there is one."""
    from perfbench import verify
    from perfbench.workloads import pipeline_call

    rec = {"op": op.name, "layer": op.layer, "error": None}
    mark = probe.mark() if tracer else None
    df = rows = t1 = None
    c0, j0 = meter.read()
    t0 = time.perf_counter()
    try:
        if op.name == cfg.get("fail_op"):
            raise RuntimeError(f"deliberate failure of {op.name}")
        if op.query is None:
            pipeline_call(op, spark, cfg["csv_dir"], wh)()
        else:
            df = queries[op.query].builder(spark, cfg["sf_dir"])
        t1 = time.perf_counter()
        if df is not None:
            rows = df.collect()
    except Exception as exc:  # noqa: BLE001 - a failing op is recorded, the run goes on
        rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        traceback.print_exc(file=sys.stderr)
    t2 = time.perf_counter()
    c2, j2 = meter.read()
    t1 = t2 if t1 is None else t1
    rec.update(t=t2 - t0, cpu=c2 - c0, jit=j2 - j0, build_s=t1 - t0, collect_s=t2 - t1)
    if rows is not None:
        cols, norm = verify.normalize(df.columns, rows)
        rec.update(cols=cols, nrows=len(norm), digest=verify.digest(cols, norm))
        if keep_rows:
            rec["rows"] = norm
    t3 = time.perf_counter()
    if tracer is not None:
        rec["phases"] = probe.phases(df) if df is not None else None
        stats, _ = probe.since(mark)
        rec["exec"] = stats.as_dict() if stats is not None else None
        t4 = time.perf_counter()
        rec["probe_s"] = t4 - t3
        span = tracer.add(f"op:{op.name}", t0, t4, pass_span, op_id)
        tracer.add("build", t0, t1, span, op_id)
        tracer.add("collect", t1, t2, span, op_id)
        tracer.add("verify.digest", t2, t3, span, op_id)
        tracer.add("trace.probe", t3, t4, span, op_id)
    return rec


def main(argv: list[str]) -> int:
    with open(argv[0], encoding="utf-8") as fh:
        cfg = json.load(fh)
    spark, queries, setup_layers = _setup(cfg)
    print("READY", flush=True)

    from perfbench.probes import SparkProbe
    from perfbench.procs import CpuMeter
    from perfbench.workloads import MIN_WARM_PASSES, WORKLOADS

    probe = SparkProbe(spark)
    meter = CpuMeter(os.getpid())
    tracer = Tracer() if cfg["trace"] else None
    ops = WORKLOADS[cfg["workload"]]
    if cfg.get("fail_op") and cfg["fail_op"] not in {op.name for op in ops}:
        raise SystemExit(f"unknown op {cfg['fail_op']!r}")
    run_span = tracer.reserve("run", time.perf_counter(), None) if tracer else None
    passes = []
    warm_start = None
    while True:
        n = len(passes)
        if (n > MIN_WARM_PASSES[cfg["workload"]]
                and time.perf_counter() - warm_start >= cfg["seconds"]):
            break
        wh = os.path.join(cfg["warehouse"], f"p{n}")
        mark = probe.mark() if tracer is None else None
        t0 = time.perf_counter()
        if n == 1:
            warm_start = t0
        pass_span = tracer.reserve(f"pass:{n}", t0, run_span) if tracer else None
        recs = [
            _run_op(op, spark, queries, cfg, wh, n == 0, meter, tracer, probe, pass_span,
                    f"p{n}:{op.name}")
            for op in ops
        ]
        t1 = time.perf_counter()
        written = None
        if tracer:
            tracer.close(pass_span, t1)
        else:
            stats, _ = probe.since(mark)  # pass boundary, outside the timers
            if stats is not None:
                written = stats.output_mb + stats.shuffle_write_mb
        passes.append({
            "t": sum(r["t"] for r in recs),
            "wall_s": t1 - t0,
            "probe_s": sum(r.get("probe_s", 0.0) for r in recs),
            "wh": wh,
            "written_mb": written,
            "ops": recs,
        })
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import TABLES

    result = {
        "setup_layers": setup_layers,
        "peak_rss_mb": probe.jvm_peak_rss_mb(),
        "passes": passes,
        "tables": list(TABLES),
        "oracles": {op.query: queries[op.query].oracle for op in ops if op.query},
    }
    if tracer:
        tracer.close(run_span, time.perf_counter())
        result["spans"] = tracer.spans
    with open(cfg["out"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    # The parent kills this process and its descendants once it reads DONE.
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main(sys.argv[1:])
    # Wait to be killed with all its descendants (see DONE);
    # exiting on its own would only start Spark's slow shutdown hooks.
    time.sleep(60)

