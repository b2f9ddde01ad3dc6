"""Lineage cutting for iterative and multi-pass operators.

Iterative DataFrame loops (Pregel supersteps, BFS hops, star-contraction
rounds) and reused mid-query materializations (minhash signatures, shingle
prefix tables) must cut lineage each round or the logical plan grows without
bound (SURVEY.md §7.4). *How* to cut it is a deployment decision:

- ``localCheckpoint`` stores blocks on executors: fastest, but blocks die
  with an executor, and a long 100-iteration job on a 1000-executor cluster
  *will* lose executors — the job then fails (a localCheckpoint's lineage is
  truncated, so Spark cannot recompute the lost partitions).
- ``checkpoint`` writes to the fault-tolerant FS configured via
  ``spark.sparkContext.setCheckpointDir`` (HDFS/S3): survives executor and
  node loss, the right choice for production-scale iterative compute.

``cut_lineage`` picks reliable checkpointing whenever the session has a
checkpoint dir configured and falls back to localCheckpoint otherwise, so
single-node runs (tests, bench, local[32]) pay no distributed-FS cost while
a cluster deployment opts in with one line:

    spark.sparkContext.setCheckpointDir("hdfs:///tmp/graphchidb-ckpt")

Every cut is eager: it materializes in one job before ``cut_lineage``
returns. A loop that needs a figure of each cut (a level's size, a hit
flag, a halt test) passes ``stats``: aggregate columns observed on the rows
as the cut materializes them (``DataFrame.observe``), so the figure comes
from the cut's own job, the way Pregelix computes a superstep's aggregates
inside the superstep, instead of a second job over the cut rows: the stats
cost no job beyond the cut's own, with either cut kind. It is the one way
the library's loops learn a figure of their own state.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.storagelevel import StorageLevel

#: Bound on the wait for a cut's observed stats after its job has ended.
_STATS_WAIT_S = 60


def cut_lineage(
    df: DataFrame,
    *,
    spill_only: bool = False,
    stats: list[Column] | None = None,
):
    """Materialize ``df`` (one job, before this returns) and truncate its
    lineage/logical plan.

    Uses a reliable ``checkpoint`` when the SparkContext has a checkpoint
    directory configured (cluster deployments), else ``localCheckpoint``
    (single-node: executor-local blocks, no distributed-FS round-trip).

    ``spill_only`` stores the local checkpoint DISK_ONLY instead of the
    default MEMORY_AND_DISK — for data-sized intermediates (candidate
    pair tables in the many-millions) whose blocks would otherwise
    compete with broadcast hash relations and aggregation buffers for
    heap. Measured r15: the 10× replica capstone at c32 OOM'd
    deserializing the 130M-row crossing-candidate checkpoint under the
    repair verify's resident broadcasts; DISK_ONLY streams it instead
    (reliable ``checkpoint`` is already on-disk, so the flag is a no-op
    there).

    With ``stats`` (aggregate columns) it returns
    ``(cut, row)``: ``row`` holds the aggregates over the cut rows, observed
    by the materializing job itself. The row reaches the driver through the
    listener bus just after the job ends; one that has not arrived within
    ``_STATS_WAIT_S`` raises instead of blocking forever."""
    if stats is not None:
        obs = Observation()
        df = df.observe(obs, *stats)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        cut = df.checkpoint()
    elif spill_only:
        cut = df.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    else:
        cut = df.localCheckpoint()
    if stats is None:
        return cut
    # The row arrives through the listener bus, shortly after the job ends;
    # Observation.get would wait for it without a bound.
    jvm = sc._jvm
    try:
        jvm.scala.concurrent.Await.result(
            obs._jo.future(), jvm.scala.concurrent.duration.Duration.create(_STATS_WAIT_S, "s")
        )
    except Py4JJavaError as exc:
        raise RuntimeError(
            f"the cut's observed stats did not arrive within {_STATS_WAIT_S} s"
        ) from exc
    return cut, Row(**obs.get)
