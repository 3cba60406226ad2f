"""The processes of a benchmark run, read from ``/proc``.

The worker starts in a session of its own, and its JVM shares its process
group, but Spark's Python daemon moves itself and the Python workers it
forks into a group of their own. So the benchmark follows parent links,
not process groups, to find every process of a run: to add up their CPU
time and to stop them all.

The CPU time of the JVM's JIT compiler threads is counted apart. It is
the JVM warming up: it goes on through the first warm passes, and how
much of it falls into which op differs from run to run by more than the
program's own work does.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# thread names (``comm``, cut to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass(frozen=True)
class Proc:
    ppid: int
    pgid: int
    state: str
    # user + system clock ticks, its own and those of its reaped children
    cpu_ticks: int


def table() -> dict[int, Proc]:
    """Every process visible in ``/proc``, by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        out[int(name)] = Proc(int(f[1]), int(f[2]), f[0], sum(int(v) for v in f[11:15]))
    return out


def tree(root: int, procs: dict[int, Proc]) -> set[int]:
    """``root`` and all its descendants among ``procs``."""
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p.ppid, []).append(pid)
    out: set[int] = set()
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, ()))
    return out


class CpuMeter:
    """CPU seconds used so far by ``root`` and its descendants, and the
    part of them used by JIT compiler threads.

    HotSpot starts compiler threads on demand and retires them when they
    idle; a retired thread's time stays in its process's total, so each
    compiler thread's last reading is kept after it has gone. A JVM
    thread names itself once it runs, so each named thread is checked
    once, and only the compiler threads are read again.
    """

    def __init__(self, root: int):
        self.root = root
        self.checked: set[tuple[int, int]] = set()
        self.jit_ticks: dict[tuple[int, int], int] = {}

    def read(self) -> tuple[float, float]:
        """(all CPU seconds, JIT compiler CPU seconds) so far."""
        procs = table()
        pids = tree(self.root, procs)
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, int(tid))
                if key in self.checked and key not in self.jit_ticks:
                    continue
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii",
                              errors="replace") as fh:
                        head, tail = fh.read().rsplit(")", 1)
                except OSError:
                    continue
                name = head.split("(", 1)[1]
                if name != "java":  # the JVM's threads start with its name
                    self.checked.add(key)
                if name.startswith(JIT_THREADS):
                    f = tail.split()
                    self.jit_ticks[key] = int(f[11]) + int(f[12])
        total = sum(procs[pid].cpu_ticks for pid in pids)
        return total * TICK_S, sum(self.jit_ticks.values()) * TICK_S


def stop(proc: subprocess.Popen) -> None:
    """Kill ``proc``, its descendants and their process groups, and wait
    until every one of them has ended (zombies have ended; only their
    reaping is outstanding)."""
    procs = table()
    pids = tree(proc.pid, procs)
    groups = ({proc.pid} | {procs[pid].pgid for pid in pids}) - {os.getpgrp()}
    for pgid in groups:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    proc.wait()
    while any(p.state != "Z" and (pid in pids or p.pgid in groups) for pid, p in table().items()):
        time.sleep(0.02)
