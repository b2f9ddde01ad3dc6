"""Sub-stage profile of minhash_cluster_members(verify=True) on the
capstone's exact `scored` input at sf0.1: wraps cut_lineage (the operator's
job boundaries) with a timing logger, so every eager materialization inside
the operator reports its wall seconds — exact attribution without
duplicating the operator body.

Usage: python tools/profile_members.py [sf_dir]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

import graphchidb_scala_spark.functions.dedup as dedup
from graphchidb_scala_spark.checkpoint import cut_lineage
from graphchidb_scala_spark.functions.text import (
    bigram_lm_scores,
    detect_language,
    filter_documents,
    strip_html,
)
from graphchidb_scala_spark.session import get_spark
from graphchidb_scala_spark.sources.tpch import load_tables

from __spark_entry__ import _HTML_PRE, _HTML_POST, _V3_LM_MAX


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("members-profile")
    spark.sparkContext.setLogLevel("ERROR")
    n_par = spark.sparkContext.defaultParallelism
    docs = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .repartition(n_par)
        .cache()
    )
    docs.count()
    crawled = docs.select(
        "doc_id",
        "source",
        F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)).alias("text"),
    )
    clean = cut_lineage(
        crawled.select(
            F.col("doc_id"), F.col("source"), strip_html(F.col("text")).alias("text")
        )
    )
    det = detect_language(clean, buckets=256)
    tagged = cut_lineage(clean.join(det.select("doc_id", "lang"), "doc_id"))
    lm = bigram_lm_scores(tagged, alpha=0.1, group_col="lang")
    keep = lm.filter(F.col("lm_xent") <= float(_V3_LM_MAX)).select("doc_id")
    gated = tagged.join(keep, "doc_id", "semi")
    filt = filter_documents(gated, min_tokens=5, min_quality=0.3, langs=None)
    scored = cut_lineage(
        filt.withColumn("_len", F.length(F.col("text")).cast("bigint"))
    )
    n = scored.count()
    stats = scored.agg(
        F.avg(F.length("text")), F.max(F.length("text")), F.sum(F.length("text"))
    ).first()
    print(
        f"scored: {n} docs, avg_len={stats[0]:.0f}, max_len={stats[1]}, "
        f"total_chars={stats[2]}",
        flush=True,
    )

    # --- instrument every cut_lineage boundary inside dedup
    orig_cut = dedup.cut_lineage
    timings: list[tuple[str, float, int]] = []

    def timed_cut(df, **kw):
        caller = traceback.extract_stack(limit=3)[-2]
        where = f"{caller.name}:{caller.lineno}"
        t0 = time.time()
        out = orig_cut(df, **kw)
        timings.append((where, time.time() - t0, -1))
        print(f"  cut@{where}: {timings[-1][1]:.1f}s", flush=True)
        return out

    dedup.cut_lineage = timed_cut
    try:
        t0 = time.time()
        clusters = dedup.minhash_cluster_members(
            scored, id_col="doc_id", text_col="text", threshold=0.5, verify=True
        )
        t_build = time.time() - t0
        t1 = time.time()
        clusters.write.format("noop").mode("overwrite").save()
        t_noop = time.time() - t1
        print(f"build(eager cuts incl. counts): {t_build:.1f}s; final noop: {t_noop:.1f}s", flush=True)
    finally:
        dedup.cut_lineage = orig_cut


if __name__ == "__main__":
    main()
