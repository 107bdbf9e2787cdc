"""SparkSession construction and runtime configuration.

Two audiences:

1. Our own tests / bench build sessions via :func:`get_session`.
2. The verification driver hands us an already-built session; for that
   path every loader calls :func:`ensure_runtime_confs` so the confs
   we depend on are applied even to foreign sessions (they are all
   runtime-settable SQL confs, not static Spark confs).

100 TB notes: the builder defaults below are local-mode test settings.
On a real cluster the same code runs unchanged; the cluster profile
would instead set executor memory/cores, a larger
``spark.sql.shuffle.partitions`` (or rely on AQE coalescing from a
high initial value), and ``spark.sql.files.maxPartitionBytes`` sized
so a scan task fits comfortably in executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs required for correctness, applied to ANY session we are
#: handed (all runtime-settable).
_RUNTIME_CONFS = {
    # The fixture events.parquet files (sf0.001, sf0.01, sf0.1) store
    # ts as INT64 TIMESTAMP(MICROS), not UTC-adjusted: pyarrow reads
    # timestamp[us] and Spark reads TIMESTAMP_NTZ, with or without
    # this conf.  An events file that stores ts as TIMESTAMP(NANOS) is
    # refused by Spark's vectorized reader (PARQUET_TYPE_ILLEGAL);
    # with this legacy conf Spark reads its raw int64 nanoseconds as
    # LongType, and sources.readers converts them to TIMESTAMP_NTZ
    # microseconds (matching DuckDB's read of the same file).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # sort-merge→broadcast conversion.  Default-on in Spark 4; pinned
    # here because the 100 TB plan depends on it.
    "spark.sql.adaptive.enabled": "true",
    # Arrow for pandas_udf / applyInPandas / toPandas: vectorized
    # Python boundary instead of per-row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the runtime SQL confs the engine needs."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in exotic builds
            pass
    return spark


def get_session(
    app_name: str = "data_ingest_utils_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores) for local runs; on a cluster, leave ``master`` unset in
    the environment and spark-submit supplies it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # Local-mode default: small fixture data, keep scheduling
        # overhead low.  AQE coalesces further at runtime.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        # static confs (executorEnv, memory) must land BEFORE
        # getOrCreate — used by tools running on local-cluster masters
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
