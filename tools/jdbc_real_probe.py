#!/usr/bin/env python
"""REAL JDBC pull over a driver jar (round 15 — un-gates the last
documented-only scan surface when the environment allows).

``scan_jdbc`` has been SURVEY §2a's one documented-only row since
round 1: no RDBMS and no JDBC driver jar in the sandbox, so the
range-partition PLANNER is what executes (oracle-checked through the
sqlite-backed Python data source, ``scan_sqlite_partitioned``).  The
round-15 environment re-probe (VERDICT r14 #7) found a PUBLIC
``org.duckdb:duckdb_jdbc`` driver jar in the local artifact caches —
enough to exercise the genuine article end-to-end:

1. materialize a real relational DATABASE FILE (DuckDB storage, built
   with the python driver at the same storage version) from the
   orders fixture;
2. start a fresh Spark session with the jar on the driver/executor
   classpath (``spark.jars`` + extraClassPath — classpath is fixed at
   JVM start, which is why this runs in its own process, subprocess-
   launched by the gated test in tests/test_jdbc_real.py);
3. ``sources.jdbc.read_jdbc`` with (partitionColumn, lowerBound,
   upperBound, numPartitions=4): Spark's JDBC relation generates the
   same per-partition WHERE clauses ``range_partition_predicates``
   plans, and four EXECUTOR-side connections pull their ranges
   concurrently (``duckdb.read_only=true`` so the file supports
   parallel readers);
4. verify against the parquet fixture: row count, exact integer
   micro-unit money sum, per-partition row counts (all four
   partitions non-empty ⇒ the pull was genuinely parallel), and
   partition disjointness-completeness (total == sum of parts).

The jar is DISCOVERED via generic globs over standard local artifact
cache layouts — never a hardcoded path or URL.  Exits 0 with a JSON
line on success, 3 when no jar is discoverable (the gated test skips
on that code).

Usage::

    python tools/jdbc_real_probe.py [--sf /root/testdata/sf0.01]
        [--out JDBC_r15.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def find_duckdb_jdbc_jar() -> str | None:
    """Generic discovery over standard artifact-cache layouts (ivy,
    coursier, maven) plus system java dirs."""
    home = os.path.expanduser("~")
    patterns = [
        f"{home}/.ivy2/**/duckdb_jdbc*.jar",
        f"{home}/.cache/coursier/**/duckdb_jdbc*.jar",
        f"{home}/.m2/**/duckdb_jdbc*.jar",
        "/usr/share/java/duckdb_jdbc*.jar",
    ]
    for pat in patterns:
        hits = sorted(glob.glob(pat, recursive=True))
        if hits:
            return hits[0]
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="JDBC_r15.json")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    jar = find_duckdb_jdbc_jar()
    if jar is None:
        print("no duckdb_jdbc jar discoverable — environment still gated",
              file=sys.stderr)
        return 3

    import duckdb

    from data_ingest_utils_spark.plans.cache import SCRATCH
    from data_ingest_utils_spark.session import get_session
    from data_ingest_utils_spark.sources.jdbc import read_jdbc

    # 1. a real database file from the fixture (same storage version
    # as the jar: both are duckdb 1.0.0 here; a mismatch would fail
    # loudly at connect time, which is the correct gated behavior)
    os.makedirs(SCRATCH, exist_ok=True)
    db = f"{SCRATCH}/jdbc_orders_{os.getpid()}.duckdb"
    # The db file must not outlive the probe on ANY exit path (ADVICE
    # r15: a jar/storage-version mismatch or failed Spark read between
    # connect and the success-path remove used to leak it).
    import atexit

    def _cleanup() -> None:
        try:
            os.remove(db)
        except OSError:
            pass

    atexit.register(_cleanup)
    con = duckdb.connect(db)
    src = os.path.join(args.sf, "orders.parquet")
    con.execute(
        "CREATE TABLE orders AS SELECT * FROM read_parquet(?)", [src]
    )
    n_src, lo, hi = con.execute(
        "SELECT count(*), min(o_orderkey), max(o_orderkey) FROM orders"
    ).fetchone()
    sum_src = con.execute(
        "SELECT sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) "
        "FROM orders"
    ).fetchone()[0]
    con.close()

    # 2. fresh session with the jar on the classpath (JVM not yet
    # started in this process)
    from pyspark.sql import SparkSession, functions as F

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_session(
        "dius-jdbc-real",
        extra_confs={
            "spark.jars": jar,
            "spark.driver.extraClassPath": jar,
            "spark.executor.extraClassPath": jar,
        },
    )

    # 3. the genuine parallel range-partitioned JDBC pull
    df = read_jdbc(
        spark,
        url=f"jdbc:duckdb:{db}",
        table="orders",
        partition_column="o_orderkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=4,
        properties={
            "driver": "org.duckdb.DuckDBDriver",
            "duckdb.read_only": "true",
        },
    )
    n_parts = df.rdd.getNumPartitions()
    per_part = (
        df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().orderBy("pid").collect()
    )
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 1000000 + F.lit(0.5)).cast("long")
        ).alias("s"),
    ).head()

    checks = {
        "four_partitions": n_parts == 4,
        "all_partitions_nonempty": len(per_part) == 4
        and all(r["count"] > 0 for r in per_part),
        "row_count_matches_fixture": agg["n"] == n_src,
        "partition_counts_complete": sum(r["count"] for r in per_part) == n_src,
        "money_sum_matches_fixture": int(agg["s"]) == int(sum_src),
    }
    out = {
        "tool": "jdbc_real_probe",
        "sf_dir": args.sf,
        "driver_class": "org.duckdb.DuckDBDriver",
        "jar_basename": os.path.basename(jar),
        "n_rows": int(agg["n"]),
        "partition_rows": [r["count"] for r in per_part],
        "checks": checks,
    }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    _cleanup()
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
