"""Unit tests for the pure metric code: the percentile rule, failed-op
accounting (a wrong result is a failed operation), the stage-to-span
rollup on a recorded stage list, and the per-layer metric catalog.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from perfbench import metrics as pm
from perfbench import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


# --------------------------------------------------------------- percentiles

@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert pm.tail_percentile(n) == want


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).exponential(size=57))
    for p in (50.0, 75.0, 90.0, 99.0):
        assert pm.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_latency_summary_uses_only_measured_successes():
    recs = [pm.OpRecord("r", float(i), correct=True) for i in range(1, 41)]
    recs += [pm.OpRecord("r", 1000.0, error="boom"), pm.OpRecord("r", 1000.0, correct=False),
             pm.OpRecord("r", 1000.0, measured=False, correct=True)]
    s = pm.latency_summary(recs)
    assert s["n"] == 40 and s["p50"] == 20.5
    assert s["tail_pct"] == 75.0 and s["tail"] == pytest.approx(30.25)


def test_cpu_per_op_is_the_mean_over_measured_successes():
    recs = [pm.OpRecord("r", 1.0, cpu_s=c, correct=True) for c in (1.0, 2.0, 6.0)]
    recs += [pm.OpRecord("r", 1.0, cpu_s=99.0, error="boom"),
             pm.OpRecord("r", 1.0, cpu_s=99.0, measured=False, correct=True)]
    assert pm.cpu_per_op(recs) == pytest.approx(3.0)
    assert pm.cpu_per_op(recs[3:]) is None


# ---------------------------------------------------------------- accounting

def test_account_counts_errors_wrong_and_unchecked():
    recs = [
        pm.OpRecord("a", 1.0, correct=True),
        pm.OpRecord("b", 1.0, error="ValueError: x"),
        pm.OpRecord("c", 1.0, correct=False),
        pm.OpRecord("d", 1.0),  # never checked
        pm.OpRecord("e", 1.0, measured=False, correct=True),
    ]
    assert pm.account(recs) == (5, 3)


def test_a_dropped_row_is_a_failed_batch_call():
    want = pd.DataFrame({"id": [1, 2, 3], "rank": [0.5, 0.25, 0.25]})
    ok = pm.OpRecord("pregel.pagerank", 1.0)
    ok.correct = oracle.same_frame(want.iloc[::-1].copy(), want, ["id"], {"rank": 1e-6})
    dropped = pm.OpRecord("pregel.pagerank", 1.0)
    dropped.correct = oracle.same_frame(want.iloc[:2].copy(), want, ["id"], {"rank": 1e-6})
    changed = pm.OpRecord("pregel.pagerank", 1.0)
    changed.correct = oracle.same_frame(want.assign(rank=[0.5, 0.25, 0.26]), want, ["id"], {"rank": 1e-6})
    assert pm.account([ok, dropped, changed]) == (3, 2)


@pytest.fixture
def online_state():
    """A DuckDB base of four edges, then one add and one delete."""
    con = duckdb.connect()
    con.execute("CREATE TABLE base AS SELECT * FROM (VALUES "
                "(0, 1, 10, 1.0, DATE '1995-01-01'), (0, 1, 11, 2.0, DATE '1995-01-02'), "
                "(0, 2, 10, 3.0, DATE '1995-01-03'), (1, 10, 20, 4.0, DATE '1995-01-04')"
                ") t(etype, src, dst, weight, ts)")
    log = oracle.MutationLog()
    log.add(pd.DataFrame({"etype": [0, 0], "src": [1, 1], "dst": [10, 12],
                          "weight": [9.0, 5.0], "ts": pd.to_datetime(["1996-01-01"] * 2).date}))
    log.delete(pd.DataFrame({"etype": [0], "src": [1], "dst": [11]}))
    log.load(con)
    return con


def test_online_oracle_applies_the_mutation_log(online_state):
    con = online_state
    oracle.materialize_state(con, 0)
    assert len(oracle.expected_read(con, "query_out", {"vertex": 1, "etype": 0})) == 2
    oracle.materialize_state(con, 2)
    got = oracle.expected_read(con, "query_out", {"vertex": 1, "etype": 0})
    assert [(r[2], r[3]) for r in got] == [(10, 9.0), (12, 5.0)]  # upsert won, 11 deleted
    assert oracle.state_edge_count(con) == 4
    assert oracle.expected_read(con, "shortest_path", {"source": 1, "target": 20, "max_depth": 3}) == 2


def test_a_dropped_row_is_a_failed_online_read(online_state):
    """The workload marks a read correct iff its rows equal the oracle's."""
    con = online_state
    oracle.materialize_state(con, 2)
    want = oracle.expected_read(con, "query_out", {"vertex": 1, "etype": 0})
    recs = []
    for got in (list(want), want[1:]):
        rec = pm.OpRecord("query_out", 0.3)
        rec.correct = got == want
        recs.append(rec)
    assert pm.account(recs) == (2, 1)


# -------------------------------------------------------------------- rollup

def _spans(rec: dict) -> list[pm.Span]:
    return [pm.Span(s["name"], s["start_ms"], s["end_ms"], s["parent"], s["group"], s["attrs"])
            for s in rec["spans"]]


@pytest.fixture(scope="module")
def recorded():
    """Spans plus the status store's job and stage lists (JSON form),
    recorded from a traced online block: reads, an add batch with a
    nested compaction, a delete batch with a nested no-op maybe_compact."""
    with open(os.path.join(HERE, "fixtures", "stage_list.json")) as f:
        return json.load(f)


def test_rollup_attributes_each_run_stage_once(recorded):
    rows = pm.rollup(_spans(recorded), recorded["jobs"], recorded["stages"])
    assert len(rows) == len(recorded["spans"])
    ran = {(s["stageId"], s["attemptId"]): s for s in recorded["stages"] if s.get("submissionTime")}
    grouped = {sid for j in recorded["jobs"] if j.get("jobGroup") for sid in j["stageIds"]}
    want_tasks = sum(s["numCompleteTasks"] for (sid, _), s in ran.items() if sid in grouped)
    assert sum(r["tasks"] for r in rows.values()) == want_tasks
    assert sum(r["jobs"] for r in rows.values()) == sum(1 for j in recorded["jobs"] if j.get("jobGroup"))


def test_rollup_self_time_and_driver_gap(recorded):
    rows = pm.rollup(_spans(recorded), recorded["jobs"], recorded["stages"])
    for r in rows.values():
        assert 0.0 <= r["driver_gap_s"] <= r["wall_s"] + 1e-9
        kids = [c for c in rows.values() if c["parent"] is not None and rows[c["parent"]] is r]
        assert r["self_s"] == pytest.approx(r["wall_s"] - sum(c["wall_s"] for c in kids))
    compact = [r for r in rows.values() if r["name"] == "ingest.maybe_compact"]
    assert compact and all(r["parent"] is not None for r in compact)
    assert max(r["output_bytes"] for r in compact) > 0  # the compaction rewrote the base


def test_rollup_on_synthetic_shared_and_skipped_stages():
    spans = [pm.Span("a", 0.0, 1000.0, group="g1"), pm.Span("b", 1000.0, 2000.0, group="g2")]
    jobs = [{"jobId": 0, "jobGroup": "g1", "submissionTime": 1, "stageIds": [0, 1]},
            {"jobId": 1, "jobGroup": "g2", "submissionTime": 2, "stageIds": [1, 2, 3]}]
    stage = {"attemptId": 0, "numCompleteTasks": 4, "executorRunTime": 100}
    stages = [dict(stage, stageId=0, submissionTime=100.0, completionTime=400.0),
              dict(stage, stageId=1, submissionTime=400.0, completionTime=600.0),
              dict(stage, stageId=2, submissionTime=1200.0, completionTime=1500.0),
              dict(stage, stageId=3, submissionTime=None, completionTime=None)]  # skipped
    rows = pm.rollup(spans, jobs, stages)
    assert (rows["g1"]["stages"], rows["g1"]["tasks"]) == (2, 8)  # the shared stage 1 is g1's
    assert (rows["g2"]["stages"], rows["g2"]["tasks"]) == (1, 4)
    assert rows["g1"]["driver_gap_s"] == pytest.approx(0.5)
    assert rows["g2"]["driver_gap_s"] == pytest.approx(0.7)
    assert rows["g1"]["executor_run_s"] == pytest.approx(0.2)


# ------------------------------------------------------------ layer metrics

def _row(name, **kw):
    base = {"name": name, "parent": None, "wall_s": 1.0, "self_s": 1.0, "jobs": 0, "tasks": 0,
            "input_rows": 0, "output_bytes": 0}
    for k, _ in pm.STAGE_SUMS.items():
        base.setdefault(k, 0)
    base.update(kw)
    return base


def test_layer_metrics_medians_ratios_and_zeros():
    rows = [
        _row("db.query_out", self_s=0.2, jobs=3, input_rows=100, result_rows=2),
        _row("db.query_out", self_s=0.4, jobs=5, input_rows=300, result_rows=2),
        _row("db.query_out", self_s=0.3, jobs=4, input_rows=0, result_rows=0),
        _row("ingest.add_batch", self_s=0.5, output_bytes=1000),
        _row("ingest.maybe_compact", self_s=2.0, output_bytes=3000),
        _row("ingest.delete_batch", self_s=0.1, output_bytes=200),
        _row("sources.tpch_graph", self_s=1.5),
    ]
    m = pm.layer_metrics(rows)
    assert m["db.query_out.wall_p50_s"] == 0.3 and m["db.query_out.jobs"] == 4
    assert m["db.query_out.input_rows_per_result"] == 100.0
    assert m["ingest.maybe_compact.bytes_written"] == 3000
    assert m["sources.tpch_graph.wall_s"] == 1.5
    assert m["pregel.pagerank.wall_s"] == 0.0 and m["db.find_edge.input_rows_per_result"] == 0.0
    assert pm.write_amp(rows) == pytest.approx(4200 / 1200)
    assert pm.write_amp(rows[:3]) == 0.0
    names = {n for n, _ in pm.per_layer_catalog()}
    assert set(m) | set(pm.RUN_METRICS) == names


def test_catalog_matches_benchmark_json():
    path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        declared = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    assert declared == pm.per_layer_catalog()
