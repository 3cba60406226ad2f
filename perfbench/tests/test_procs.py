"""``procs`` finds, times and stops a descendant that left its parent's
process group, as Spark's Python daemon does."""

from __future__ import annotations

import subprocess
import sys
import time

from perfbench import procs

CHILD = r"""
import os, time
pid = os.fork()
if pid == 0:
    os.setpgid(0, 0)
    end = time.time() + 0.5
    while time.time() < end:
        pass
    time.sleep(60)
else:
    print(pid, flush=True)
    time.sleep(60)
"""


def test_tree_cpu_and_stop_cover_a_descendant_in_its_own_group():
    proc = subprocess.Popen([sys.executable, "-c", CHILD], stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        grandchild = int(proc.stdout.readline())
        time.sleep(1.0)
        tab = procs.table()
        assert procs.tree(proc.pid, tab) == {proc.pid, grandchild}
        assert tab[grandchild].pgid != tab[proc.pid].pgid
        assert procs.CpuMeter(proc.pid).read()[0] >= 0.4
    finally:
        procs.stop(proc)
        proc.stdout.close()
    tab = procs.table()
    assert grandchild not in tab or tab[grandchild].state == "Z"
