"""Spans around the benchmark's calls into the program, rolled up from the
JVM status store after the run.

Each span runs its call under its own Spark job group; nothing else is
recorded while the call runs. After the measured window,
``stage_rollup`` reads the job and stage lists once (as the JSON the
status store's REST layer would serve) and ``metrics.rollup`` attributes
every stage to its span. With tracing off, ``span`` only times the call,
so the untraced run pays no job-group bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time

from perfbench.metrics import Span, rollup
from perfbench.procs import tree_cpu_s


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a call in wall and CPU time; when enabled, record it as a
        span under its own job group (nested spans get the enclosing span
        as parent)."""
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        group = f"pb{self._seq:06d}" if self.enabled else None
        if self.enabled:
            self.sc.setJobGroup(group, name)
            self._stack.append(group)
        cpu0, t0 = tree_cpu_s(), time.time()
        sp = Span(name, t0 * 1000.0, t0 * 1000.0, parent=parent, group=group, attrs=dict(attrs))
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            sp.cpu_s = tree_cpu_s() - cpu0
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append(sp)

    def stage_rollup(self) -> dict[str, dict]:
        """Roll the status store's stages up to the recorded spans."""
        if not self.enabled:
            return {}
        return rollup(self.spans, *self.status_lists())

    def status_lists(self) -> tuple[list[dict], list[dict]]:
        """Every job and stage in the status store, as the JSON its REST
        layer would serve."""
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        return (json.loads(mapper.writeValueAsString(jobs)),
                json.loads(mapper.writeValueAsString(stages)))


def jvm_peak_rss_bytes(spark) -> int:
    """Peak resident set of the Spark JVM (VmHWM), 0 where /proc is absent."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0
