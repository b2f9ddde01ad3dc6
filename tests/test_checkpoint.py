"""cut_lineage dispatch: reliable checkpoint when a checkpoint dir is
configured (cluster deployments), localCheckpoint otherwise — and identical
operator results either way."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from graphchidb_scala_spark.checkpoint import cut_lineage


def _lineage_cut(df) -> bool:
    # a checkpointed DF scans the materialized RDD — no upstream operators
    return "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()


def test_cut_lineage_local_by_default(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = cut_lineage(spark.range(10))
    assert df.count() == 10
    assert _lineage_cut(df)


def test_cut_lineage_reliable_with_checkpoint_dir(spark, chain_db):
    ckdir = tempfile.mkdtemp(prefix="ckpt_test_")
    sc = spark.sparkContext
    try:
        sc.setCheckpointDir(ckdir)
        df = cut_lineage(spark.range(10).withColumn("x", F.col("id") * 2))
        assert df.count() == 10
        assert _lineage_cut(df)
        # files actually land in the fault-tolerant dir
        found = any(files for _, _, files in os.walk(ckdir))
        assert found
        # an iterative operator runs unchanged under reliable checkpointing
        from graphchidb_scala_spark.operators import pregel

        cc = pregel.connected_components(chain_db).groupBy("cc").count()
        assert cc.count() > 0
    finally:
        # Option(null) => None on the Scala side: restores local mode for the
        # rest of the (session-scoped) fixture's tests
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_cut_lineage_results_identical_across_modes(spark, chain_db):
    from graphchidb_scala_spark.operators import pregel

    local_pr = pregel.pagerank(chain_db, iterations=3).collect()
    ckdir = tempfile.mkdtemp(prefix="ckpt_test2_")
    sc = spark.sparkContext
    try:
        sc.setCheckpointDir(ckdir)
        rel_pr = pregel.pagerank(chain_db, iterations=3).collect()
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    key = lambda r: r["id"]
    assert sorted(local_pr, key=key) == sorted(rel_pr, key=key)


def _observed_cut(spark, tag):
    """A cut with observed stats: its frame, its row and the Spark jobs it
    ran, next to the jobs of the same cut without stats."""
    sc = spark.sparkContext
    counts = []
    for kind, stats in [("plain", None), ("stats", [F.count(F.lit(1)), F.max(F.col("id") == 7)])]:
        group = f"cut-{tag}-{kind}"
        sc.setJobGroup(group, group)
        try:
            out = cut_lineage(spark.range(10).withColumn("x", F.col("id") * 2), stats=stats)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    df, row = out
    return df, row, counts


def test_cut_lineage_observes_stats_in_its_own_job(spark):
    """``cut_lineage(stats=...)`` returns the cut and the aggregates over
    its rows, observed by the materializing job: no job beyond the plain
    cut's."""
    df, row, (plain, observed) = _observed_cut(spark, "local")
    assert tuple(row) == (10, True)
    assert observed == plain
    assert _lineage_cut(df) and df.count() == 10


def test_cut_lineage_observes_stats_with_checkpoint_dir(spark):
    """The reliable ``checkpoint`` arm delivers the observed row as well,
    in the job that writes the checkpoint."""
    ckdir = tempfile.mkdtemp(prefix="ckpt_test3_")
    sc = spark.sparkContext
    try:
        sc.setCheckpointDir(ckdir)
        df, row, (plain, observed) = _observed_cut(spark, "reliable")
        assert tuple(row) == (10, True)
        assert observed == plain
        assert _lineage_cut(df) and df.count() == 10
        assert any(files for _, _, files in os.walk(ckdir))
    finally:
        sc._jsc.sc().setCheckpointDir(None)
        shutil.rmtree(ckdir, ignore_errors=True)
    assert sc.getCheckpointDir() is None
