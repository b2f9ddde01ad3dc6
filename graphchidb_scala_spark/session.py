"""SparkSession construction and deterministic-parity configuration.

The reference engine is a single JVM with hand-tuned buffers (SURVEY.md §4);
here the equivalent knobs are Spark SQL confs. ``configure`` holds the
runtime-settable subset so the driver-supplied session behaves identically to
one we build ourselves (timezone matters for oracle comparisons of
timestamps; AQE matters for skew/coalesce at scale).

Which session gets which conf:

- ``_RUNTIME_CONFS``: every session, through ``configure``, including one a
  caller passes in (``__spark_entry__.entry(spark)``). Among them ``spark.sql.codegen.useIdInClassName=false``:
  generated classes lose their stage id, so stack traces show
  ``GeneratedIteratorForCodegenStage`` without a number (``explain`` output
  keeps its ``*(N)`` markers).
- ``_STATIC_CONFS``: only sessions built by ``get_spark`` (``bench.py``,
  ``perfbench/``, the oracle check) and the pytest session; a static conf
  takes effect only when the JVM's SparkContext starts. A session passed
  in keeps its own codegen cache size.

Together they let an iterative operator compile each generated class once
per session: a repeated call, or a loop of another length, reuses the
classes already compiled instead of recompiling them (Janino, then the JIT).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

# Runtime-settable confs applied to any session we receive. Session timezone
# must be UTC so that timestamp formatting matches the DuckDB oracle (which
# reads parquet timestamps as naive/UTC).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by target size, not cluster parallelism:
    # iterative graph loops run dozens of small shuffles whose 32-way task
    # fan-out is pure scheduling overhead locally; at cluster scale the
    # advisory size (64 MB) keeps partitions right-sized either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # the testdata events table has stored TIMESTAMP(NANOS) in past rounds,
    # which Spark's parquet reader rejects by default; read as long and
    # convert (events.load_events normalizes whatever arrives)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # autoBroadcastJoinThreshold stays at the Spark default (10 MB): the
    # estimate is COMPRESSED size, so a globally raised threshold can
    # deserialize a "64 MB" build side into hundreds of MB per executor.
    # Joins that are measured-safe to broadcast use targeted hints
    # (F.broadcast / dedup._broadcast_if_small) instead.
    # Generated class names without the whole-stage codegen stage id, so the
    # same code is one CodeGenerator cache key wherever its stage sits in the
    # plan (GeneratedIteratorForCodegenStage, not ...Stage13 vs ...Stage4).
    # Measured on perfbench graph_analytics (4-core VM): with stage ids every
    # pass Janino-compiled 208-219 classes, warm or not, and the JIT compiled
    # them again: a pregel.pagerank call spent 4.2-5.9 s in JIT compilation
    # of its 6.6-9.0 CPU s. With this and _STATIC_CONFS, the first pass after
    # warm-up compiles 30 and later passes 0-2; pagerank then costs
    # 3.4-5.1 CPU s, 1.3-2.9 s of it JIT.
    "spark.sql.codegen.useIdInClassName": "false",
    # Pandas input goes over Arrow, so a driver-built table (local_table)
    # is planned as a local relation. get_spark sets it too; a session
    # passed in without it would turn the frame back into Python rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Static confs, fixed when the JVM's SparkContext starts: applied by
# get_spark and by the test session, never to a session passed in.
_STATIC_CONFS = {
    # CodeGenerator's compiled-class cache is an LRU of 100 entries by
    # default, with one entry per class and class loader (the Spark driver
    # and the tasks each load their own copy). One graph_analytics pass
    # holds 192-194 entries, so at 100 a pass evicted its own classes before
    # reusing them; 2000 holds a pass with room for other work. Metaspace
    # after three passes: 166 MB against 171 MB at 100 entries (the evicting
    # cache kept loading fresh copies); after two reps of bench.py at
    # sf0.01, which keep 722 entries, 186 MB against 180 MB.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs (safe on a live, driver-owned session)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host harness; proceed with its value
    return spark


_PANDAS_DTYPES = {"bigint": "Int64", "int": "Int32", "double": "Float64"}


def local_table(spark: SparkSession, schema: str, *cols) -> DataFrame:
    """A table built from driver-side values: ``schema`` is a DDL string of
    ``bigint``, ``int`` and ``double`` fields and ``cols`` one sequence per
    field, in order, where None is NULL; no ``cols`` gives the empty table.

    The values go over Arrow as a pandas frame, which Spark plans as a local
    relation: scanning or collecting it runs no Spark job and no Python
    worker, so it needs no ``cut_lineage`` either. A list of Python rows is
    scanned by Python-worker tasks instead (4-core VM, process-tree CPU,
    median of 25 calls: collecting a 1-row table 0.38 s against 0.01 s,
    cutting one 0.39 s against 0.03 s). An empty frame would be scanned as an RDD,
    but under an always-false filter it plans as an empty local relation."""
    fields = [f.split() for f in schema.split(",")]
    if not cols:
        cols = tuple([] for _ in fields)
    if len(cols) != len(fields):
        raise ValueError(f"{len(cols)} columns for schema {schema!r}")
    pdf = pd.DataFrame({
        name: pd.array(c, dtype=_PANDAS_DTYPES[t]) for (name, t), c in zip(fields, cols)
    })
    df = spark.createDataFrame(pdf, schema)
    return df if len(pdf) else df.where(F.lit(False))


def _driver_mem(phys_bytes: int) -> str:
    """Default driver heap: 16g, or half the machine's physical memory when
    that is less (a 16g heap on a 15 GB machine gets the JVM killed)."""
    return f"{min(16 << 10, phys_bytes // 2 >> 20)}m"


def get_spark(
    app_name: str = "graphchidb-scala-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized from $SPARK_GRAFT_CPUS (default 32).

    On a real cluster these settings come from spark-submit; the shuffle
    partition count here is sized for local mode (1 partition per core —
    at 100 TB you would instead let AQE coalesce from a few thousand).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _driver_mem(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Local-mode tuning: with size-based AQE coalescing, an 8 MB advisory
        # target balances stage fan-out vs task overhead for the bench-scale
        # inputs (measured: triangle join 2x faster vs the 64 MB default, CC
        # rounds unharmed). On a real cluster leave the 64 MB default — the
        # right value scales with executor count, not engine semantics.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # ContextCleaner frees shuffle files / broadcasts only when the driver
        # GCs; with a large heap that can be never, and accumulated shuffle
        # state progressively inflates per-job scheduling cost (measured 8x
        # slowdown over a long session). But each forced GC is a full
        # stop-the-world pause that stalls whatever stage is running
        # (measured: 30s interval made star-CC 2x slower than 10min). 5min
        # keeps long sessions clean while staying out of individual queries.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config(map=_STATIC_CONFS)
    )
    return configure(builder.getOrCreate())
