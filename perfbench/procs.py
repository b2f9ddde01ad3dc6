"""The processes a run starts: the CPU time they use, and stopping them.

``tree_cpu_s`` is the CPU time of this process and every process below it
(the Spark JVM and its Python workers), which the end-to-end metrics are
measured in. It excludes time the machine's hypervisor gave to other
tenants, which wall time on a shared host does not.

PySpark starts the JVM with ``spark-submit`` and leaves it running after
``spark.stop()``; it only exits once the Python process has gone and it
reads end-of-file on its stdin. A run that just returned would leave the
JVM (and any ``pyspark.daemon`` workers) still shutting down after it. So a
run records its process tree while the JVM is up, stops the JVM itself,
and waits for every recorded process to be gone before it exits.

Linux only: the tree is read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (so state
    is [0], ppid [1], utime [11] ... cstime [14]), or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name (field 2) may hold spaces and parentheses
    return text[text.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of ``pid``, or None once it is gone."""
    fields = _fields(pid)
    return None if fields is None else (fields[0], int(fields[1]))


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, parents before children."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process) and
    every live process below it, each with its reaped children's, so a
    worker that exits keeps counting through its parent."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def threads_cpu_s(pid: int, name_part: str) -> float:
    """User plus system CPU seconds of the live threads of ``pid`` whose
    name contains ``name_part``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                text = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if name_part in text[text.index("(") + 1:text.rindex(")")]:
            total += sum(int(x) for x in text[text.rindex(")") + 2:].split()[11:13])
    return total * _TICK_S


def _reap(pid: int) -> None:
    """Collect ``pid`` if it is our own child; no-op otherwise."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to end; return the rest."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left:
        for pid in left:
            _reap(pid)
        left = [p for p in left if alive(p)]
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.05)
    return left


def kill_all(pids: list[int], timeout: float = 10.0) -> list[int]:
    """SIGKILL ``pids`` and wait for them; return any that outlived it."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return wait_gone(pids, timeout)


def stop_jvm(proc: subprocess.Popen | None, timeout: float = 60.0) -> None:
    """Let the gateway JVM exit as it does when Python exits (stdin closed),
    then kill it if it has not ended within ``timeout`` seconds."""
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
