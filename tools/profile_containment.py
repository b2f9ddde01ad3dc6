"""Sub-stage profile of containment_cluster_members on the bench's exact
input (block_col=source, k=5, threshold=0.8) via the timed-cut_lineage
trick. Usage: python tools/profile_containment.py [sf_dir]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

import graphchidb_scala_spark.functions.dedup as dedup
from graphchidb_scala_spark.session import get_spark
from graphchidb_scala_spark.sources.tpch import load_tables


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("containment-profile")
    spark.sparkContext.setLogLevel("ERROR")
    n_par = spark.sparkContext.defaultParallelism
    docs = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .repartition(n_par).cache()
    )
    docs.count()

    orig_cut = dedup.cut_lineage

    def timed_cut(df, **kw):
        caller = traceback.extract_stack(limit=3)[-2]
        t0 = time.time()
        out = orig_cut(df, **kw)
        print(f"  cut@{caller.name}:{caller.lineno}: {time.time()-t0:.1f}s", flush=True)
        return out

    dedup.cut_lineage = timed_cut
    try:
        t0 = time.time()
        n = dedup.containment_cluster_members(
            docs, block_col="source", k=5, threshold=0.8
        ).count()
        print(f"total: {time.time()-t0:.1f}s rows={n}", flush=True)
    finally:
        dedup.cut_lineage = orig_cut


if __name__ == "__main__":
    main()
