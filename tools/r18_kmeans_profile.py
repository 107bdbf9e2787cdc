#!/usr/bin/env python
"""Per-action decomposition of llm_kmeans_cells (round 18, VERDICT r17
#1 'measure first').  One warm session; times each driver action class
of kmeans_fit_predict separately so the fusion lever targets the real
term:

  a. checkpoint materialization (localCheckpoint job)
  b. seeds collect (orderBy + limit k)
  c. one assignment-only pass (mapInArrow kernel, noop-sunk)
  d. one stats pass (assignment + groupBy(cell) 65-agg + collect)
  e. one bare SSE pass (assignment + global sum + collect)
  f. the whole key warm (median of N)

Usage: python tools/r18_kmeans_profile.py [sf_dir] [reps]
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_ingest_utils_spark.operators import similarity as sim
from data_ingest_utils_spark.plans import QUERIES
from data_ingest_utils_spark.sources.readers import load_table
from data_ingest_utils_spark.session import get_session


def t(fn, reps=3):
    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return xs


def main():
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_session("r18-kmeans-profile")
    sc = spark.sparkContext

    # warm: full key once
    sc.setJobDescription("warmup llm_kmeans_cells")
    QUERIES["llm_kmeans_cells"](spark, sf_dir).collect()

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    print(f"rows={n}", file=sys.stderr)

    k, iters = 8, 3

    sc.setJobDescription("a: checkpoint")
    xs = t(lambda: emb.select("vec_id", "embedding").localCheckpoint(eager=True), reps)
    print(f"a_checkpoint: {['%.3f' % x for x in xs]}")

    base = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    sc.setJobDescription("b: seeds")
    xs = t(lambda: base.orderBy("vec_id").limit(k).collect(), reps)
    print(f"b_seeds: {['%.3f' % x for x in xs]}")

    seeds = base.orderBy("vec_id").limit(k).collect()
    cents = [list(map(float, r["embedding"])) for r in seeds]
    dim = len(cents[0])

    assigned = sim.kmeans_assign(base, cents, vec_col="embedding", id_col="vec_id")
    sc.setJobDescription("c: assignment only (noop)")
    xs = t(
        lambda: assigned.write.format("noop").mode("overwrite").save(), reps
    )
    print(f"c_assign_noop: {['%.3f' % x for x in xs]}")

    sc.setJobDescription("c2: assignment only (count)")
    xs = t(lambda: assigned.count(), reps)
    print(f"c2_assign_count: {['%.3f' % x for x in xs]}")

    def stats_pass():
        sim.kmeans_assign(
            base, cents, vec_col="embedding", id_col="vec_id"
        ).groupBy("cell").agg(
            F.sum("sq_dist").alias("sse"),
            *[F.avg(F.col("embedding")[i]).alias(f"m{i}") for i in range(dim)],
        ).collect()

    sc.setJobDescription("d: stats pass")
    xs = t(stats_pass, reps)
    print(f"d_stats: {['%.3f' % x for x in xs]}")

    sc.setJobDescription("e: bare SSE")
    xs = t(
        lambda: sim.kmeans_assign(
            base, cents, vec_col="embedding", id_col="vec_id"
        ).agg(F.sum("sq_dist")).collect(),
        reps,
    )
    print(f"e_sse: {['%.3f' % x for x in xs]}")

    sc.setJobDescription("f: whole key")
    xs = t(lambda: QUERIES["llm_kmeans_cells"](spark, sf_dir).collect(), reps)
    print(
        f"f_whole_key: {['%.3f' % x for x in xs]} median "
        f"{statistics.median(xs):.3f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
