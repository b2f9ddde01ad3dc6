"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload online_rw --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (removed on exit); a traced run (``--trace 1``) also
writes its spans to ``.perfbench_out/spans-<workload>-seed<seed>.json``.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced; see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics as pm  # noqa: E402 -- needs ROOT on the path
from perfbench import procs  # noqa: E402

WORKLOADS = ("online_rw", "graph_analytics")


def _confine(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the traced run reads every job and stage back from the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf", shlex.quote("spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell",
    ])


def _shutdown(spark) -> None:
    """Stop the session, the JVM behind it and every process below this
    one, and wait for each to end (see perfbench/procs.py)."""
    from pyspark import SparkContext
    tree = procs.descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        procs.stop_jvm(getattr(gateway, "proc", None))
        left = procs.wait_gone(tree + procs.descendants(os.getpid()), timeout=10.0)
        left = procs.kill_all(left)
        if left:
            print(f"perfbench: processes {left} outlived SIGKILL", file=sys.stderr)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(res: dict) -> dict:
    """The metrics a user of the store sees, from the untraced units: set-up
    wall time, and the CPU time the program spends per operation (see
    perfbench/README.md for why CPU and not wall time)."""
    return {
        "setup_s": _metric(res["setup_s"], "s"),
        "cpu_s_per_op": _metric(pm.cpu_per_op(res["records"]), "s"),
        "read_cpu_s": _metric(res["read_cpu_s"], "s"),
        "write_cpu_s": _metric(res["write_cpu_s"], "s"),
        "store_bytes_per_edge": _metric(res["store_bytes"] / res["store_edges"], "bytes"),
    }


def _spread(xs: list[float]) -> float:
    return max(xs) - min(xs)


def per_layer(res: dict, rows: list[dict], peak_rss: int) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run's spans (measured calls and
    set-up), plus the tracing overhead: traced against untraced units of
    the same run. The overhead counts as resolved only when it exceeds the
    spread of both sides."""
    kept = [r for r in rows if r.get("measured") or r["name"] in pm.SETUP_CALLS]
    values = pm.layer_metrics(kept)
    traced, untraced = res["units"][True], res["units"][False]
    spread = max(_spread(traced), _spread(untraced))
    overhead = statistics.median(traced) - statistics.median(untraced)
    values.update({
        "ingest.compactions": res["compactions"],
        "ingest.write_amp": pm.write_amp([r for r in kept if r.get("measured")]),
        "ingest.appends_bytes_at_read_p50": res["appends_bytes_at_read_p50"],
        "jvm.peak_rss_bytes": peak_rss,
        "trace.traced_batch_s": statistics.median(traced),
        "trace.untraced_batch_s": statistics.median(untraced),
        "trace.batch_spread_s": spread,
    })
    out = {name: _metric(values[name], unit) for name, unit in pm.per_layer_catalog()}
    summary = {"trace_overhead_s": overhead, "trace_overhead_resolved": abs(overhead) > spread,
               "traced_units_s": traced, "untraced_units_s": untraced}
    return out, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import graphchidb_scala_spark
        if not os.path.abspath(graphchidb_scala_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"found outside the checkout at {graphchidb_scala_spark.__file__}")
        from perfbench import gen, workloads
        from perfbench.tracer import jvm_peak_rss_bytes
        from graphchidb_scala_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _confine(work)
    spark = None
    try:
        tables = os.path.join(work, "input")
        gen.write_tpch_tables(tables, args.seed)
        # the inputs are small: beyond four cores a run only adds task overhead
        spark = get_spark("perfbench", cpus=min(len(os.sched_getaffinity(0)), 4))
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(spark, work, tables, args.seed, args.seconds, bool(args.trace))
        res = getattr(workloads, args.workload)(run)
        attempted, failed = pm.account(res["records"])
        if args.trace:
            rows = list(res["tracer"].stage_rollup().values())
            metrics, summary = per_layer(res, rows, jvm_peak_rss_bytes(spark))
            workloads.log(f"tracing overhead {summary}")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "summary": summary,
                           "metrics": metrics, "spans": rows}, f, indent=1, default=str)
        else:
            metrics = end_to_end(res)
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
