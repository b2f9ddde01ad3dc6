"""The benchmark's workloads. Each runs in its own process and JVM, from
one single client thread (a closed loop: the next call is issued only
after the previous one returned).

- ``online_rw``: point reads, two-hop and depth-bounded path queries, and
  batched upserts/deletes each followed by ``maybe_compact``, against a
  live ``EdgeStore`` whose reads go to uncached parquet.
- ``graph_analytics``: passes of five whole-graph calls over a cached
  snapshot of the same store.

Both build the store the same way in set-up. Work is done in units (a
block of ten online operations, a pass of the five batch calls): an
untimed warm-up, a ``settle``, then whole units until the measured time
reaches ``--seconds``. See perfbench/README.md for why these two workloads and
what each metric should move.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import pandas as pd

from graphchidb_scala_spark.db import GraphDB
from graphchidb_scala_spark.operators import graph_queries as gq
from graphchidb_scala_spark.operators import pregel
from graphchidb_scala_spark.sources.tpch import tpch_graph
from graphchidb_scala_spark.streaming.ingest import EdgeStore

from perfbench import gen, oracle, procs
from perfbench.metrics import BATCH_CALLS, OpRecord, cpu_per_op, latency_summary
from perfbench.tracer import Tracer

EDGE_SCHEMA = "etype int, src bigint, dst bigint, weight double, ts date"
KEY_SCHEMA = "etype int, src bigint, dst bigint"
SETUP_REPS = 3

SPAN_NAMES = {
    "query_out": "db.query_out",
    "query_in": "db.query_in",
    "find_edge": "db.find_edge",
    "fof": "graph_queries.friends_of_friends_counts",
    "shortest_path": "graph_queries.shortest_path_length",
    "add_batch": "ingest.add_batch",
    "delete_batch": "ingest.delete_batch",
}


@dataclass
class Run:
    spark: object
    work_dir: str
    tables_dir: str
    seed: int
    seconds: float
    trace: bool


@dataclass
class Built:
    store: EdgeStore
    graph: GraphDB  # the tpch_graph view (cached)
    init_base_cpu_s: float


_T0 = time.time()


def log(msg: str) -> None:
    print(f"perfbench [{time.time() - _T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def build(run: Run, tracer: Tracer, tag: str) -> Built:
    """One set-up: the tpch_graph view materialized in cache, then the edge
    store written from it with ``init_base``."""
    with tracer.span("sources.tpch_graph"):
        g = tpch_graph(run.spark, run.tables_dir)
        g.edges.cache().count()
        g.vertices.cache().count()
    with tracer.span("ingest.init_base") as sp:
        store = EdgeStore(run.spark, os.path.join(run.work_dir, f"store-{tag}"))
        store.init_base(g.edges)
    return Built(store, g, sp.cpu_s)


def discard(b: Built) -> None:
    b.graph.edges.unpersist()
    b.graph.vertices.unpersist()
    shutil.rmtree(b.store.path, ignore_errors=True)


def set_up(run: Run, tracer: Tracer, tag: str, extra=None) -> tuple[Built, dict, object]:
    """Set up ``SETUP_REPS`` times and keep the last build. Returns it, the
    median set-up wall time and init_base CPU time, and ``extra(built)``:
    per-workload set-up work timed with the rest."""
    times, writes, built, ext = [], [], None, None
    for i in range(SETUP_REPS):
        if built is not None:
            discard(built)
            if hasattr(ext, "unpersist"):
                ext.unpersist()
        t0 = time.time()
        built = build(run, tracer, f"{tag}{i}")
        ext = extra(built) if extra else None
        times.append(time.time() - t0)
        writes.append(built.init_base_cpu_s)
    log("set-up times " + " ".join(f"{t:.2f}" for t in times))
    return built, {"setup_s": statistics.median(times),
                   "init_base_cpu_s": statistics.median(writes)}, ext


def settle(run: Run) -> None:
    """After the warm-up: collect the heap, then wait (at most 15 s) until
    the JVM's JIT compiler threads have been idle for half a second, so the
    measured units start from the same state in every run and their CPU
    time counts only the compilations they cause themselves."""
    t0 = time.time()
    gateway = run.spark.sparkContext._gateway
    gateway.jvm.java.lang.System.gc()
    last = procs.threads_cpu_s(gateway.proc.pid, "Compiler")
    while time.time() - t0 < 15.0:
        time.sleep(0.5)
        now = procs.threads_cpu_s(gateway.proc.pid, "Compiler")
        if now - last < 0.02:
            break
        last = now
    log(f"settled in {time.time() - t0:.1f} s")


def window(run: Run, unit, warm_up) -> dict[bool, list[float]]:
    """Run ``warm_up()`` untimed and ``settle``, then whole units
    ``unit(traced, measured)`` until the measured time reaches ``run.seconds``; returns
    the measured unit times, keyed by whether the unit was traced. A
    traced run alternates traced and untraced units (in pairs, the first
    of a pair alternating) until the traced ones reach ``run.seconds``, and
    for at least two pairs, so both sides see the same state and seed and
    each has a spread: their difference is the tracing overhead."""
    warm_up()
    settle(run)
    times: dict[bool, list[float]] = {False: [], True: []}
    pair = 0
    while sum(times[run.trace]) < run.seconds or (run.trace and pair < 2):
        order = (True, False) if pair % 2 == 0 else (False, True)
        for traced in (order if run.trace else (False,)):
            times[traced].append(unit(traced, True))
        pair += 1
    return times


# ------------------------------------------------------------------ online

def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class OnlineRW:
    def __init__(self, run: Run, con, built: Built, tracer: Tracer):
        self.run, self.con, self.store = run, con, built.store
        self.tracers = {False: Tracer(run.spark, enabled=False), True: tracer}
        self.mix = gen.OnlineMix(run.seed, oracle.base_keys(con))
        self.mlog = oracle.MutationLog()
        self.records: list[OpRecord] = []
        self.reads: list[tuple] = []  # (record, op, writes applied before it, result)
        self.appends_at_read: list[int] = []
        self.compactions = 0

    def block(self, traced: bool, measured: bool) -> float:
        """One block of the seeded mix; returns the time its ops took."""
        tracer, total = self.tracers[traced], 0.0
        for _ in range(len(gen.BLOCK)):
            op = self.mix.next()
            rec = OpRecord(op.kind, 0.0, measured=measured)
            if op.is_read:
                self._read(tracer, op, rec)
            else:
                self._write(tracer, op, rec)
            self.records.append(rec)
            total += rec.seconds
        log(f"block done in {total:.1f} s ({'traced' if traced else 'untraced'}): " + " ".join(
            f"{r.kind}={r.seconds:.2f}/{r.cpu_s:.2f}" for r in self.records[-len(gen.BLOCK):]))
        return total

    def _read(self, tracer: Tracer, op: gen.Op, rec: OpRecord) -> None:
        if rec.measured:
            self.appends_at_read.append(_dir_bytes(self.store.appends_dir))
        got = None
        with tracer.span(SPAN_NAMES[op.kind], measured=rec.measured) as sp:
            try:
                got = self._query(op)
                sp.attrs["result_rows"] = len(got) if isinstance(got, list) else 1
            except Exception as exc:  # noqa: BLE001 -- a failing op is counted, not fatal
                rec.error = f"{type(exc).__name__}: {exc}"[:300]
        rec.seconds, rec.cpu_s = sp.wall_s, sp.cpu_s
        self.reads.append((rec, op, self.mlog.seq, got))

    def _query(self, op: gen.Op):
        a, g = op.args, self.store.graph()
        if op.kind == "query_out":
            return _rows(g.query_out(a["vertex"], a["etype"]))
        if op.kind == "query_in":
            return _rows(g.query_in(a["vertex"], a["etype"]))
        if op.kind == "find_edge":
            return _rows(g.find_edge(a["etype"], a["src"], a["dst"]))
        if op.kind == "fof":
            return [tuple(r) for r in gq.friends_of_friends_counts(
                g, a["vertex"], a["etype1"], a["etype2"], k=20).collect()]
        return gq.shortest_path_length(
            g, a["source"], a["target"], max_depth=a["max_depth"]).collect()[0]["dist"]

    def _write(self, tracer: Tracer, op: gen.Op, rec: OpRecord) -> None:
        """One batch write, then ``maybe_compact`` (a nested span); the
        write's latency covers both."""
        spark, store = self.run.spark, self.store
        if op.kind == "add_batch":
            pdf = pd.DataFrame(op.args["rows"], columns=list(oracle.EDGE_COLS))
        else:
            pdf = pd.DataFrame(op.args["keys"], columns=["etype", "src", "dst"])
        with tracer.span(SPAN_NAMES[op.kind], measured=rec.measured) as sp:
            try:
                if op.kind == "add_batch":
                    store.add_batch(spark.createDataFrame(pdf, EDGE_SCHEMA))
                else:
                    store.delete_batch(spark.createDataFrame(pdf, KEY_SCHEMA))
                with tracer.span("ingest.maybe_compact", measured=rec.measured):
                    compacted = store.maybe_compact()
                self.compactions += compacted and rec.measured
            except Exception as exc:  # noqa: BLE001 -- counted, not fatal
                rec.error = f"{type(exc).__name__}: {exc}"[:300]
        rec.seconds, rec.cpu_s = sp.wall_s, sp.cpu_s
        (self.mlog.add if op.kind == "add_batch" else self.mlog.delete)(pdf)

    def check(self) -> tuple[int, int]:
        """Compare every read with the DuckDB state at the write it ran
        after, and the final edge count with the state after all writes.
        Writes are correct when the final state matches. Returns the final
        edge counts (store, expected)."""
        con = self.con
        self.mlog.load(con)
        by_seq: dict[int, list] = {}
        for item in self.reads:
            by_seq.setdefault(item[2], []).append(item)
        for seq in sorted(by_seq):
            oracle.materialize_state(con, seq)
            for rec, op, _, got in by_seq[seq]:
                if rec.error is None:
                    rec.correct = got == oracle.expected_read(con, op.kind, op.args)
                    if not rec.correct:
                        print(f"perfbench: wrong result from {op.kind} {op.args}", file=sys.stderr)
        oracle.materialize_state(con, self.mlog.seq)
        got, want = self.store.edges().count(), oracle.state_edge_count(con)
        for rec in self.records:
            if rec.kind in gen.WRITE_KINDS and rec.error is None:
                rec.correct = got == want
        return got, want


def online_rw(run: Run) -> dict:
    con = oracle.open_graph(run.tables_dir)
    tracer = Tracer(run.spark, enabled=run.trace)
    built, setup, _ = set_up(run, tracer, "o")
    wl = OnlineRW(run, con, built, tracer)
    units = window(run, wl.block, lambda: wl.block(False, False))
    log(f"window done: {wl.compactions} compactions")
    got, want = wl.check()
    log(f"output check done: {got} edges in the store, {want} expected")
    untraced = [r for r in wl.records if r.measured] if not run.trace else []
    reads = [r for r in untraced if r.kind not in gen.WRITE_KINDS]
    writes = [r for r in untraced if r.kind in gen.WRITE_KINDS]
    log(f"wall: reads {latency_summary(reads)}, writes {latency_summary(writes)}")
    return {
        **setup, "records": wl.records, "units": units, "tracer": tracer,
        "read_cpu_s": cpu_per_op(reads), "write_cpu_s": cpu_per_op(writes),
        "store_bytes": _dir_bytes(built.store.path), "store_edges": got,
        "compactions": wl.compactions,
        "appends_bytes_at_read_p50": statistics.median(wl.appends_at_read),
    }


# --------------------------------------------------------------- analytics

def graph_analytics(run: Run) -> dict:
    roots = gen.analytics_roots(run.seed)
    tracer = Tracer(run.spark, enabled=run.trace)
    tracers = {False: Tracer(run.spark, enabled=False), True: tracer}

    def snapshot(b: Built) -> GraphDB:
        edges = b.store.edges().cache()
        edges.count()
        return GraphDB(edges, b.graph.vertices)

    built, setup, g = set_up(run, tracer, "a", extra=snapshot)
    calls = {
        "pregel.pagerank": lambda: pregel.pagerank(g, iterations=10),
        "pregel.connected_components": lambda: pregel.connected_components(g),
        "graph_queries.multi_bfs_levels": lambda: gq.multi_bfs_levels(g, roots["bfs"], max_depth=3),
        "graph_queries.random_walks": lambda: gq.random_walks(g, roots["walks"], walk_length=10),
        "graph_queries.triangle_count": lambda: gq.triangle_count(g),
    }
    results: list[tuple[OpRecord, pd.DataFrame | None]] = []

    def one_pass(traced: bool, measured: bool) -> float:
        total = 0.0
        for name in BATCH_CALLS:
            rec = OpRecord(name, 0.0, measured=measured)
            got = None
            with tracers[traced].span(name, measured=measured) as sp:
                try:
                    got = calls[name]().toPandas()
                except Exception as exc:  # noqa: BLE001 -- counted, not fatal
                    rec.error = f"{type(exc).__name__}: {exc}"[:300]
            rec.seconds, rec.cpu_s = sp.wall_s, sp.cpu_s
            total += rec.seconds
            results.append((rec, got))
        log(f"pass done in {total:.1f} s ({'traced' if traced else 'untraced'}): " + " ".join(
            f"{r.kind}={r.seconds:.2f}/{r.cpu_s:.2f}" for r, _ in results[-len(BATCH_CALLS):]))
        return total

    def warm_up() -> None:
        """Each call once on small inputs, so the JIT and Spark's code
        generation have compiled its plans before the first timed pass."""
        t0 = time.time()
        pregel.pagerank(g, iterations=2).count()
        pregel.connected_components(g, max_iterations=2).count()
        gq.multi_bfs_levels(g, roots["bfs"][:50], max_depth=3).count()
        gq.random_walks(g, roots["walks"][:500], walk_length=2).count()
        gq.triangle_count(g).count()
        log(f"warm-up done in {time.time() - t0:.1f} s")

    units = window(run, one_pass, warm_up)
    _check_analytics(run, roots, results)
    log("output check done")
    records = [r for r, _ in results]
    untraced = [r for r in records if r.measured] if not run.trace else []
    return {
        **setup, "records": records, "units": units, "tracer": tracer,
        # every batch call only reads the graph; the workload's one write
        # is the init_base of its set-up
        "read_cpu_s": cpu_per_op(untraced), "write_cpu_s": setup["init_base_cpu_s"],
        "store_bytes": _dir_bytes(built.store.path), "store_edges": g.edges.count(),
        "compactions": 0, "appends_bytes_at_read_p50": 0,
    }


def _check_analytics(run: Run, roots: dict, results: list) -> None:
    con = oracle.open_graph(run.tables_dir)
    want = {
        "pregel.pagerank": (oracle.pagerank(con, 10), ["id"], {"rank": 1e-6}),
        "pregel.connected_components": (oracle.connected_components(con), ["id"], None),
        "graph_queries.multi_bfs_levels": (oracle.multi_bfs(con, roots["bfs"], 3), ["seed", "id"], None),
        "graph_queries.random_walks": (oracle.random_walks(con, roots["walks"], 10), ["walk_id", "step"], None),
        "graph_queries.triangle_count": (pd.DataFrame({"triangles": [oracle.triangle_count(con)]}), ["triangles"], None),
    }
    for rec, got in results:
        if rec.error is None:
            frame, keys, tol = want[rec.kind]
            rec.correct = oracle.same_frame(got, frame, keys, tol)
            if not rec.correct:
                print(f"perfbench: wrong result from {rec.kind}", file=sys.stderr)
