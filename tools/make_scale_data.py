#!/usr/bin/env python
"""Generate scaled bench fixtures: N× key-strided replicas of an
existing sf directory (default 10× sf0.1 ≈ sf1.0).

Purpose (VERDICT r5 #5): at sf0.1 every headline query is
planning-dominated (0.2–0.9 s on 600 k rows), so the bench cannot see
shuffle cost; sf1.0 makes the heavy shapes (session windows, banded
range join, star join, segment dedup, banded n-gram dedup) data-
dominated and the 2× criterion meaningful.  Output lands under
``/root/repo/.scale/sf1.0`` (gitignored — derived data, ~150 MB).

Replication semantics — each replica is a self-consistent universe:
- dims (region, nation, part, supplier): copied once, NOT replicated;
  fact FKs to them are left untouched, so dim joins keep their
  selectivity and broadcast-ability.
- customer/orders/lineitem: per-key striding (key + i·stride) with the
  SAME stride per key domain, so orders replica i references customer
  replica i and star-join output scales exactly ×N.
- events: event_id and user_id strided — N× users, identical
  session structure per user replica (sessionization cost scales in
  the partition count, not per-partition size — the realistic shape).
- documents: doc_id strided and every TOKEN suffixed with the replica
  tag, so replica vocabularies are disjoint: near-dup pair structure
  is preserved within each replica and no cross-replica pairs appear
  (naive text copies would make every doc a 10-way exact duplicate and
  turn dedup benches into a 90%-dup-rate workload).  n_chars is
  recomputed from the rewritten text.
- embeddings (round 9 — VERDICT r8 task #2): vec_id strided and label
  offset per replica (label + i·stride_label), so the coarse-cell
  blocking keys (label = IVF cell / near-dup block) stay replica-
  disjoint — block sizes are unchanged and block-quadratic keys
  (llm_embed_near_dup, llm_knn_join) scale ×N, not ×N².  Replica 0
  keeps the ORIGINAL vector bytes (planted structure intact: the
  vec_id=0 query row and its neighbors survive verbatim); replicas
  i>0 get per-element deterministic perturbation
  ``v[j] + 0.02·U(vec_id, i, j)`` with U a xxhash64-derived value in
  [-1, 1] — genuinely new vectors (no N-way zero-distance planted
  duplicates), same magnitude profile, float32 like the fixture.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIMS = ["region", "nation", "part", "supplier"]


def _strided(df: DataFrame, n: int, strides: dict[str, int]) -> DataFrame:
    rep = df.crossJoin(
        df.sparkSession.range(n).select(F.col("id").alias("_rep"))
    )
    for col, stride in strides.items():
        rep = rep.withColumn(col, (F.col(col) + F.col("_rep") * F.lit(stride)).cast("long"))
    return rep.drop("_rep")


def main() -> int:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return 0
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/sf1.0"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from data_ingest_utils_spark.session import get_session

    return generate(get_session("make-scale-data"), src, dst, n)


def generate(spark: SparkSession, src: str, dst: str, n: int) -> int:
    """Write the ×n replica set of ``src`` under ``dst`` — callable
    with an existing session (tests/test_invariants.py exercises the
    embedding replication invariants through this at tiny scale)."""
    from data_ingest_utils_spark.sources.readers import load_table

    def write(df: DataFrame, name: str, parts: int) -> None:
        df.repartition(parts).write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"  {name}: done", file=sys.stderr)

    for d in DIMS:
        write(load_table(spark, src, d), d, 1)

    cust = load_table(spark, src, "customer")
    orders = load_table(spark, src, "orders")
    stride_c = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    stride_o = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    write(_strided(cust, n, {"c_custkey": stride_c}), "customer", 4)
    write(
        _strided(orders, n, {"o_orderkey": stride_o, "o_custkey": stride_c}),
        "orders",
        8,
    )
    write(
        _strided(load_table(spark, src, "lineitem"), n, {"l_orderkey": stride_o}),
        "lineitem",
        16,
    )

    ev = load_table(spark, src, "events")
    stride_e = ev.agg(F.max("event_id")).collect()[0][0] + 1
    stride_u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    write(_strided(ev, n, {"event_id": stride_e, "user_id": stride_u}), "events", 8)

    docs = load_table(spark, src, "documents")
    stride_d = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    rep = docs.crossJoin(spark.range(n).select(F.col("id").alias("_rep")))
    rep = (
        rep.withColumn("doc_id", (F.col("doc_id") + F.col("_rep") * F.lit(stride_d)).cast("long"))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("_rep").cast("string")),
                ),
                " ",
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("_rep")
    )
    write(rep, "documents", 8)

    emb = load_table(spark, src, "embeddings")
    stride_v = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    stride_l = emb.agg(F.max("label")).collect()[0][0] + 1
    erep = emb.crossJoin(spark.range(n).select(F.col("id").alias("_rep")))
    noise = lambda x, j: (  # deterministic, in [-1, 1], float32 out
        x.cast("double")
        + 0.02
        * (
            (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), F.col("_rep"), j), F.lit(2001)
                )
                - 1000
            )
            / 1000.0
        )
    ).cast("float")
    erep = (
        erep.withColumn(
            "embedding",
            F.when(F.col("_rep") == 0, F.col("embedding")).otherwise(
                F.transform(F.col("embedding"), noise)
            ),
        )
        .withColumn(
            "vec_id", (F.col("vec_id") + F.col("_rep") * F.lit(stride_v)).cast("long")
        )
        .withColumn(
            "label", (F.col("label") + F.col("_rep") * F.lit(stride_l)).cast("int")
        )
        .drop("_rep")
    )
    write(erep, "embeddings", 4)
    print(f"scale data written to {dst} (x{n} of {src})", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
