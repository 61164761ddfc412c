#!/usr/bin/env python
"""Quiet interleaved A/B for the r15 dedup second-tier targets
(VERDICT r14 #4): dedup_keep_best / dedup_cluster_sizes are
construction-dominated (1.45/0.19 and 1.38/0.18 s construct/action) —
three SERIALIZED eager driver jobs each: (1) fused sign-table
localCheckpoint, (2) jaccard_verify's candidate-pairs localCheckpoint,
(3) the CC small-path limit(t+1).toPandas().

Variant B drops cut (2) (identity checkpoint for the pairs cut, sign
table still eagerly cut via table=) so the banding + verify join run
inside job (3) — one fewer serialized job.  The r14 evidence for
keeping cut (2) ("AQE plans the verify join from exact stats") was
measured BEFORE the small-path collapse, when the pairs fed the final
action; here they feed one bounded collect.

Interleaved A,B,A,B,... best-of-N; prints both minima.
"""
from __future__ import annotations

import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, repo)

from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.session import get_spark
from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table


def variant_a(spark, sf_dir, which):
    """Shipped shape."""
    from durablefunctions_mapreduce_dotnet_spark.queries.dedup_q import (
        q_dedup_cluster_sizes,
        q_dedup_keep_best,
    )

    f = q_dedup_keep_best if which == "keep_best" else q_dedup_cluster_sizes
    return f(spark, sf_dir)


def variant_b(spark, sf_dir, which):
    """Same query, pairs cut = identity (sign cut stays eager)."""
    from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
        minhash_near_dup_pairs,
        shingle_minhash_table_fast,
    )
    from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
        canonicalize_clusters,
        connected_components,
        local_checkpoint,
    )
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    tbl = local_checkpoint(
        shingle_minhash_table_fast(d, "text", "doc_id", bands=21)
    )
    pairs = minhash_near_dup_pairs(
        d, threshold=0.6, table=tbl, checkpoint=lambda df: df
    ).select("id_a", "id_b")
    if which == "keep_best":
        comp = connected_components(
            pairs, pairs_distinct_ordered=True
        ).withColumnRenamed("n", "doc_id")
        labeled = (
            d.select("doc_id", "n_chars")
            .join(comp, "doc_id", "left")
            .select(
                "doc_id",
                "n_chars",
                F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
            )
        )
        w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        return (
            labeled.withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "cluster_id", "keep")
            .orderBy("doc_id")
        )
    clusters = canonicalize_clusters(d, pairs, pairs_distinct_ordered=True)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("size")).alias("n_docs"),
            (F.count(F.lit(1)) * (F.col("size") - F.lit(1))).alias("n_droppable"),
        )
        .orderBy("size")
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    which = sys.argv[1] if len(sys.argv) > 1 else "keep_best"
    reps = int(os.environ.get("REPS", "4"))
    spark = get_spark("ab-dedup")
    # warmups as in bench.py
    from durablefunctions_mapreduce_dotnet_spark.queries import all_queries

    qs = all_queries()
    qs["flagship_faithful"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(200_000).selectExpr(
        "aggregate(transform(sequence(0, 63), k -> (id + k) * 2654435761 % 2147483647),"
        " cast(0 as bigint), (acc, x) -> acc + x) AS s",
        "array_min(transform(slice(sequence(0, 63), 2, 60), x -> xxhash64(x, id))) AS m",
    ).write.format("noop").mode("overwrite").save()
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import col, pandas_udf

    def _noop(s):
        return s

    _noop.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.range(1000).select(pandas_udf("bigint")(_noop)(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    # equality check first (A == B row for row)
    pa = variant_a(spark, sf_dir, which).toPandas()
    pb = variant_b(spark, sf_dir, which).toPandas()
    assert pa.equals(pb), f"variant outputs differ for {which}!"
    print(f"{which}: A == B row-for-row ({len(pa)} rows)", flush=True)

    ta, tb = [], []
    for rep in range(reps):
        for tag, fn, acc in (("A", variant_a, ta), ("B", variant_b, tb)):
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir, which)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            acc.append(t2 - t0)
            print(
                f"rep{rep} {tag}: total={t2 - t0:.3f} construct={t1 - t0:.3f}"
                f" action={t2 - t1:.3f}",
                flush=True,
            )
    print(
        f"{which}: A min={min(ta):.3f}  B min={min(tb):.3f}  "
        f"(A all {[round(t, 2) for t in ta]}, B all {[round(t, 2) for t in tb]})",
        flush=True,
    )


if __name__ == "__main__":
    main()
