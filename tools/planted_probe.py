"""One planted-cluster cell of the SCALING.md embedding_clusters probe.

Runs ``embedding_dedup_clusters`` over the planted replica
(build_planted_clusters — linear truth structure, zero expected cross
edges) at one (factor, bits, tables) point and prints the wall plus the
truth counters the SCALING.md table tracks:

- ``components``: CC components found + uncovered singletons (the r13
  counter, comparable to the r13/r14 rows);
- ``cross_merges``: components whose members span more than one planted
  cluster (truth: cluster(vec_id) = vec_id div 5) — must be 0.

Each invocation is ONE COLD run in this process's fresh session: the
r15 seam memo makes a warm in-session rep reuse the materialized CC
result, so "min-of-2 warm" now measures the memo, not the operator —
cold cells in fresh JVMs are the only like-for-like methodology left
for this table (run the script N times and take the min).  The
session's codec is the constant lz4 (session.py); a codec experiment
adds ``extra_conf={"spark.io.compression.codec": ...}`` to the get_spark
call below.

Usage: python tools/planted_probe.py FACTOR BITS TABLES
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scaling_probe import (  # noqa: E402
    PLANTED_CLUSTERS_PER_REP,
    PLANTED_MEMBERS,
    build_planted_clusters,
    required_driver_mem_gb,
)


def main() -> None:
    factor, bits, tables = (int(a) for a in sys.argv[1:4])
    need = required_driver_mem_gb(factor)
    cur = os.environ.get("SPARK_DRIVER_MEM")
    if cur is None:
        os.environ["SPARK_DRIVER_MEM"] = f"{need}g"

    from pyspark.sql import functions as F

    from nntsc_spark.pipeline.similarity import embedding_dedup_clusters
    from nntsc_spark.session import get_spark

    spark = get_spark("planted-probe")
    spark.sparkContext.setLogLevel("ERROR")
    d = build_planted_clusters(spark, factor)
    emb = spark.read.parquet(f"{d}/embeddings.parquet")

    spark.sparkContext.setJobDescription(
        f"planted x{factor} bits={bits} tables={tables} "
        f"codec={spark.conf.get('spark.io.compression.codec')}"
    )
    t0 = time.time()
    out = embedding_dedup_clusters(
        emb, threshold=0.4, bits=bits, tables=tables, dims=256
    )
    out.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    n_vecs = PLANTED_CLUSTERS_PER_REP * factor * PLANTED_MEMBERS
    covered = out.select("vec_id").count()
    cc = out.select(F.floor(F.col("vec_id") / PLANTED_MEMBERS).alias("c"),
                    "cluster_id").distinct()
    n_cc = cc.select("cluster_id").distinct().count()
    cross = (
        cc.groupBy("cluster_id")
        .agg(F.countDistinct("c").alias("nc"))
        .where(F.col("nc") > 1)
        .count()
    )
    print(
        f"planted x{factor} bits={bits} tables={tables} "
        f"codec={spark.conf.get('spark.io.compression.codec')}: "
        f"wall={wall:.2f}s components={n_cc + (n_vecs - covered)} "
        f"(planted {PLANTED_CLUSTERS_PER_REP * factor}) "
        f"cross_merges={cross}"
    )


if __name__ == "__main__":
    main()
