"""Pure metric code: percentiles, failed-operation accounting, the
stage-to-span rollup and the per-layer metrics. No Spark imports, so the
rules are unit-tested on recorded fixtures (perfbench/tests/test_metrics.py)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile above the median with at least ten
    samples beyond it, or None when even the lowest tail step lacks them."""
    best = None
    for p in LADDER:
        if p > 50.0 and n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


@dataclass
class OpRecord:
    """One attempted operation: its kind, latency, whether it was inside the
    measured window, and whether it raised or returned a wrong result."""

    kind: str
    seconds: float
    measured: bool = True
    cpu_s: float = 0.0
    error: str | None = None
    correct: bool | None = None  # None until the output check has run

    @property
    def failed(self) -> bool:
        return self.error is not None or self.correct is False


def account(records: list[OpRecord]) -> tuple[int, int]:
    """(attempted, failed). An op whose output was never checked counts as
    failed: a result nobody verified is not a success."""
    failed = sum(1 for r in records if r.failed or r.correct is None)
    return len(records), failed


def cpu_per_op(records: list[OpRecord]) -> float | None:
    """Mean CPU seconds of the successful measured ops, or None without any.
    A mean, not a median: it is the run's total CPU over its op count, so no
    single op decides it."""
    xs = [r.cpu_s for r in records if r.measured and not r.failed]
    return sum(xs) / len(xs) if xs else None


def latency_summary(records: list[OpRecord]) -> dict:
    """Median and rule-supported tail over successful measured ops."""
    xs = [r.seconds for r in records if r.measured and not r.failed]
    out = {"n": len(xs)}
    if xs:
        out["p50"] = statistics.median(xs)
        tp = tail_percentile(len(xs))
        if tp is not None:
            out["tail_pct"] = tp
            out["tail"] = percentile(xs, tp)
    return out


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    """A named interval the benchmark wrapped around a call into the
    program. ``group`` is the Spark job group its jobs ran under."""

    name: str
    start_ms: float
    end_ms: float
    parent: str | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the process tree during the span

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


STAGE_SUMS = {
    # output key: (StageData field, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),  # ms
    "executor_cpu_s": ("executorCpuTime", 1e-9),  # ns
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(spans: list[Span], jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per-span stage rollup from the status store's job and stage lists
    (their JSON form: ``jobId``, ``jobGroup``, ``stageIds``; per stage
    ``stageId``, ``attemptId``, ``submissionTime``, ``completionTime`` and
    the ``STAGE_SUMS`` fields).

    Sums are the span's own stages (self cost: a nested span's stages count
    only for the nested span), so summing over all spans never double
    counts. A stage belongs to a span when a job of the span's group ran it. A stage
    shared by jobs of two groups (a reused shuffle) counts once, for the
    group whose job submitted it first. ``driver_gap_s`` is the part of the
    span's wall time when no stage of its group or of a nested span's group
    was running. ``self_s`` is the wall time not covered by nested spans."""
    by_group_jobs: dict[str, list[dict]] = {}
    owner: dict[int, str] = {}
    for j in sorted(jobs, key=lambda j: (j.get("submissionTime") or 0, j["jobId"])):
        g = j.get("jobGroup")
        if g is None:
            continue
        by_group_jobs.setdefault(g, []).append(j)
        for sid in j.get("stageIds") or []:
            owner.setdefault(int(sid), g)
    by_group_stages: dict[str, list[dict]] = {}
    for st in stages:
        if st.get("submissionTime") is None:  # skipped: never ran
            continue
        g = owner.get(int(st["stageId"]))
        if g is not None:
            by_group_stages.setdefault(g, []).append(st)

    children: dict[str, list[str]] = {}
    nested: dict[str, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent and sp.group:
            children.setdefault(sp.parent, []).append(sp.group)
            nested.setdefault(sp.parent, []).append((sp.start_ms, sp.end_ms))

    def subtree_stages(g: str) -> list[dict]:
        out = list(by_group_stages.get(g, []))
        for c in children.get(g, []):
            out += subtree_stages(c)
        return out

    out = {}
    for sp in spans:
        sts = by_group_stages.get(sp.group, []) if sp.group else []
        row = {
            "name": sp.name,
            "parent": sp.parent,
            "start_ms": sp.start_ms,
            "end_ms": sp.end_ms,
            "wall_s": sp.wall_s,
            "self_s": sp.wall_s - covered_ms(nested.get(sp.group, []), sp.start_ms, sp.end_ms) / 1000.0,
            "jobs": len(by_group_jobs.get(sp.group, [])) if sp.group else 0,
            "stages": len(sts),
        }
        for key, (fld, scale) in STAGE_SUMS.items():
            row[key] = sum((st.get(fld) or 0) for st in sts) * scale
        busy = covered_ms(
            [(st["submissionTime"], st.get("completionTime") or sp.end_ms)
             for st in (subtree_stages(sp.group) if sp.group else [])],
            sp.start_ms, sp.end_ms,
        )
        row["driver_gap_s"] = max(0.0, (sp.end_ms - sp.start_ms) - busy) / 1000.0
        row.update(sp.attrs)
        out[sp.group or sp.name] = row
    return out




# ------------------------------------------------------- per-layer metrics

# The program's public calls the benchmark wraps in spans, by layer.
READ_CALLS = ("db.query_out", "db.query_in", "db.find_edge",
              "graph_queries.friends_of_friends_counts",
              "graph_queries.shortest_path_length")
INGEST_CALLS = ("ingest.add_batch", "ingest.delete_batch", "ingest.maybe_compact")
BATCH_CALLS = ("pregel.pagerank", "pregel.connected_components",
               "graph_queries.multi_bfs_levels", "graph_queries.random_walks",
               "graph_queries.triangle_count")
SETUP_CALLS = ("sources.tpch_graph", "ingest.init_base")

READ_QUANTITIES = ("wall_p50_s", "jobs", "tasks", "input_rows_per_result")
INGEST_QUANTITIES = ("wall_p50_s", "jobs", "bytes_written")
BATCH_QUANTITIES = ("wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "driver_gap_s")
# Whole-run figures the workload itself measures rather than a span.
RUN_METRICS = {
    "ingest.compactions": "count",
    "ingest.write_amp": "ratio",
    "ingest.appends_bytes_at_read_p50": "bytes",
    "jvm.peak_rss_bytes": "bytes",
    "trace.traced_batch_s": "s",
    "trace.untraced_batch_s": "s",
    "trace.batch_spread_s": "s",
}


def unit_of(quantity: str) -> str:
    if quantity.endswith("_s"):
        return "s"
    if quantity.endswith("bytes") or quantity == "bytes_written":
        return "bytes"
    if quantity == "input_rows_per_result":
        return "rows/result"
    return "count"


def per_layer_catalog() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in output order."""
    out = []
    for calls, quantities in ((READ_CALLS, READ_QUANTITIES), (INGEST_CALLS, INGEST_QUANTITIES),
                              (BATCH_CALLS, BATCH_QUANTITIES), (SETUP_CALLS, ("wall_s",))):
        out += [(f"{c}.{q}", unit_of(q)) for c in calls for q in quantities]
    return out + list(RUN_METRICS.items())


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rows: list[dict]) -> dict[str, float]:
    """Per-call figures from rolled-up span rows (``rollup`` values): the
    median over the call's spans of each quantity, wall time as self time.
    ``input_rows_per_result`` divides the rows the call's stages read by the
    rows it returned (``result_rows`` attribute), summed over its spans. A
    call the workload never makes reads 0."""
    by: dict[str, list[dict]] = {}
    for r in rows:
        by.setdefault(r["name"], []).append(r)

    def med(call: str, key: str) -> float:
        return _median([r[key] for r in by.get(call, [])])

    out = {}
    for c in READ_CALLS:
        results = sum(r.get("result_rows", 0) for r in by.get(c, []))
        out[f"{c}.wall_p50_s"] = med(c, "self_s")
        out[f"{c}.jobs"] = med(c, "jobs")
        out[f"{c}.tasks"] = med(c, "tasks")
        out[f"{c}.input_rows_per_result"] = (
            sum(r["input_rows"] for r in by.get(c, [])) / results if results else 0.0)
    for c in INGEST_CALLS:
        out[f"{c}.wall_p50_s"] = med(c, "self_s")
        out[f"{c}.jobs"] = med(c, "jobs")
        out[f"{c}.bytes_written"] = med(c, "output_bytes")
    for c in BATCH_CALLS:
        for q in BATCH_QUANTITIES:
            out[f"{c}.{q}"] = med(c, "self_s" if q == "wall_s" else q)
    for c in SETUP_CALLS:
        out[f"{c}.wall_s"] = med(c, "self_s")
    return out


def write_amp(rows: list[dict]) -> float:
    """Bytes all ingest calls wrote (compactions included) over the bytes
    the add and delete batches themselves wrote; 0 without writes."""
    ingest = [r for r in rows if r["name"] in INGEST_CALLS]
    user = sum(r["output_bytes"] for r in ingest if r["name"] != "ingest.maybe_compact")
    return sum(r["output_bytes"] for r in ingest) / user if user else 0.0
