"""Spark statistics read through JVM-internal APIs, in one place.

Everything here reaches past PySpark's public surface: the application
status store (``SparkContext.statusStore``), the SQL status store
(``SharedState.statusStore``), the plan tracker of a ``QueryExecution``
and ``ProcessHandle`` for the JVM's pid. These are not stable APIs, so
every probe fails open: it returns ``None`` and emits a ``ProbeWarning``
that names the probe, and the benchmark reports the affected
metrics as null instead of aborting. ``perfbench/tests/test_probes.py``
pins them on the installed Spark.
"""

from __future__ import annotations

import warnings
from dataclasses import asdict, dataclass

MB = 1e6


class ProbeWarning(UserWarning):
    """A JVM-internal probe failed; its metrics are reported as null."""


def _fail_open(probe: str, exc: Exception) -> None:
    warnings.warn(f"{probe}: {type(exc).__name__}: {exc}", ProbeWarning, stacklevel=3)


@dataclass
class ExecStats:
    """Totals over the stages, jobs and SQL executions that finished
    between two snapshots."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    output_files: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class Mark:
    """High-water marks of the ids seen so far; ids only grow."""

    stage: int = -1
    job: int = -1
    execution: int = -1


class SparkProbe:
    """Reads finished-stage statistics, planning phases and JVM memory."""

    def __init__(self, spark):
        self.spark = spark

    def _status_store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stage_list(self):
        gw = self.spark.sparkContext._gateway
        return self._status_store().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )

    def mark(self) -> Mark | None:
        """Current high-water marks (call between operations)."""
        try:
            m = Mark()
            stages = self._stage_list()
            if stages.size():
                m.stage = stages.apply(0).stageId()
            jobs = self._status_store().jobsList(None)
            if jobs.size():
                m.job = jobs.apply(0).jobId()
            execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
            if execs.size():
                m.execution = execs.apply(execs.size() - 1).executionId()
            return m
        except Exception as exc:  # noqa: BLE001 - JVM internals; fail open
            _fail_open("status-store mark", exc)
            return None

    def since(self, before: Mark | None) -> tuple[ExecStats | None, Mark | None]:
        """Statistics of everything that finished after ``before``, and
        the new marks. The status store lists stages and jobs newest
        first and SQL executions oldest first, so each walk stops at the
        first id already counted."""
        if before is None:
            return None, self.mark()
        try:
            st = ExecStats()
            now = Mark(before.stage, before.job, before.execution)
            stages = self._stage_list()
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid <= before.stage:
                    break
                now.stage = max(now.stage, sid)
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                st.stages += 1
                st.tasks += s.numCompleteTasks() + s.numFailedTasks()
                st.failed_tasks += s.numFailedTasks()
                st.task_run_s += s.executorRunTime() / 1e3
                st.task_cpu_s += s.executorCpuTime() / 1e9
                st.gc_s += s.jvmGcTime() / 1e3
                st.input_mb += s.inputBytes() / MB
                st.output_mb += s.outputBytes() / MB
                st.shuffle_read_mb += s.shuffleReadBytes() / MB
                st.shuffle_write_mb += s.shuffleWriteBytes() / MB
                st.spill_mb += s.diskBytesSpilled() / MB
                st.peak_exec_mem_mb = max(st.peak_exec_mem_mb, s.peakExecutionMemory() / MB)
            jobs = self._status_store().jobsList(None)
            for i in range(jobs.size()):
                jid = jobs.apply(i).jobId()
                if jid <= before.job:
                    break
                st.jobs += 1
                now.job = max(now.job, jid)
            sql = self.spark._jsparkSession.sharedState().statusStore()
            execs = sql.executionsList()
            for i in reversed(range(execs.size())):
                e = execs.apply(i)
                eid = e.executionId()
                if eid <= before.execution:
                    break
                now.execution = max(now.execution, eid)
                st.output_files += _written_files(sql, e)
            return st, now
        except Exception as exc:  # noqa: BLE001 - JVM internals; fail open
            _fail_open("status-store stages", exc)
            return None, self.mark()

    def phases(self, df) -> dict[str, float] | None:
        """Catalyst analysis / optimization / planning seconds of the plan
        behind ``df`` (``QueryPlanningTracker.phases``)."""
        try:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
            while it.hasNext():
                kv = it.next()
                if kv._1() in out:
                    out[kv._1()] = kv._2().durationMs() / 1e3
            return out
        except Exception as exc:  # noqa: BLE001 - JVM internals; fail open
            _fail_open("plan-tracker phases", exc)
            return None

    def jvm_peak_rss_mb(self) -> float | None:
        """Peak resident set (``VmHWM``) of the driver JVM."""
        try:
            pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024 / MB
            raise LookupError("no VmHWM line")
        except Exception as exc:  # noqa: BLE001 - JVM internals / procfs; fail open
            _fail_open("jvm VmHWM", exc)
            return None


def _written_files(sql_store, execution) -> int:
    """``number of written files`` of a write command's SQL metrics. An
    adaptive plan lists a node's metrics once per plan version, so the
    accumulators are deduplicated."""
    ids = set()
    ms = execution.metrics()
    for i in range(ms.size()):
        m = ms.apply(i)
        if m.name() == "number of written files":
            ids.add(m.accumulatorId())
    if not ids:
        return 0
    values = sql_store.executionMetrics(execution.executionId())
    total = 0
    for acc in ids:
        v = values.get(acc)
        if v.isDefined():
            total += int(str(v.get()).replace(",", ""))
    return total
