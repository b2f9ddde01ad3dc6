from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from graphchidb_scala_spark.session import _STATIC_CONFS, configure


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.appName("graphchidb-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=_STATIC_CONFS)
        .getOrCreate()
    )
    yield configure(s)
    s.stop()


@pytest.fixture(scope="session")
def chain_db(spark):
    """FIXTURES.md §F1 `edges_chain`: 1000 srcs × 4 dsts, deterministic
    column values (reference TestEdgeBuffer.scala:26-51); plus a disjoint
    etype-0 set to test type filtering."""
    from graphchidb_scala_spark.db import GraphDB

    rows = []
    for src in range(1000):
        for j in range(4):
            dst = src + j + 1
            rows.append((5, src, dst, "c", (src + dst) % 10000, (src - dst) % 333))
    for src in range(100):
        rows.append((0, src, src + 5000, "a", 0, 0))
    edges = spark.createDataFrame(
        rows, "etype int, src bigint, dst bigint, col1 string, col2 int, col3 int"
    )
    return GraphDB(edges)


@pytest.fixture(scope="session")
def social_db(spark):
    """FIXTURES.md §F2 `social`: deterministic pseudo-random digraph with
    timestamp/weight edge columns (reference SocialNetworkExample.scala:85-86).
    Built with a seeded PRNG — no rand()."""
    import random

    from graphchidb_scala_spark.db import GraphDB

    n_vertices, n_edges = 500, 5000
    rows, seen = [], set()
    rng = random.Random(42)
    while len(rows) < n_edges:
        src = rng.randrange(n_vertices)
        dst = rng.randrange(n_vertices)
        if src == dst or (src, dst) in seen:
            continue
        seen.add((src, dst))
        rows.append(
            (0, src, dst, 1_700_000_000 - rng.randrange(1_000_000), rng.randrange(1000) / 1000.0)
        )
    edges = spark.createDataFrame(
        rows, "etype int, src bigint, dst bigint, timestamp bigint, weight double"
    )
    return GraphDB(edges)
