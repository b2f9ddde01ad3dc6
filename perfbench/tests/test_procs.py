"""Tests for the process clean-up a run does on its way out.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procs


def _tree_of_two() -> subprocess.Popen:
    """A child shell that has a sleeping child of its own."""
    proc = subprocess.Popen(["sh", "-c", "sleep 60 & wait"], stdin=subprocess.PIPE)
    deadline = time.monotonic() + 10
    while len(procs.descendants(proc.pid)) < 1 and time.monotonic() < deadline:
        time.sleep(0.02)
    return proc


def test_descendants_sees_grandchildren_and_kill_all_ends_them():
    proc = _tree_of_two()
    tree = procs.descendants(os.getpid())
    assert proc.pid in tree
    grandchildren = procs.descendants(proc.pid)
    assert len(grandchildren) == 1 and grandchildren[0] in tree
    assert tree.index(proc.pid) < tree.index(grandchildren[0])
    assert procs.kill_all(tree) == []
    assert not any(procs.alive(p) for p in [proc.pid, *grandchildren])
    assert procs.descendants(os.getpid()) == []


def test_tree_cpu_counts_a_child_while_it_runs_and_after_it_is_reaped():
    before = procs.tree_cpu_s()
    proc = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\n"
                             "while time.process_time() - t < 0.5: pass\ninput()"],
                            stdin=subprocess.PIPE)
    deadline = time.monotonic() + 30
    while procs.tree_cpu_s() - before < 0.4 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert procs.tree_cpu_s() - before >= 0.4
    procs.stop_jvm(proc, timeout=30)
    assert procs.tree_cpu_s() - before >= 0.4


def test_stop_jvm_ends_a_process_that_exits_on_stdin_eof():
    # stands in for the gateway JVM, which exits when its stdin closes
    proc = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                            stdin=subprocess.PIPE)
    procs.stop_jvm(proc, timeout=30)
    assert proc.returncode == 0


def test_stop_jvm_kills_a_process_that_ignores_stdin():
    proc = subprocess.Popen(["sleep", "60"], stdin=subprocess.PIPE)
    procs.stop_jvm(proc, timeout=0.2)
    assert proc.returncode is not None and not procs.alive(proc.pid)
