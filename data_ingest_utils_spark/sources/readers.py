"""Readers: parquet fixture tables, CSV with inference, JSON lines.

Scale notes (100 TB):
- ``spark.read.parquet`` keeps the vectorized columnar reader, filter
  pushdown to row groups / page index, and partition pruning in play —
  every downstream operator declares filters as Column exprs so they
  reach the scan.
- A parquet read without a schema costs one Spark job that reads
  footers to infer it, on every call.  :func:`read_parquet` memoizes
  each path's inferred schema under its :func:`path_fingerprint`, so a
  read of an unchanged input passes the known schema and runs no job;
  a rewritten input changes the fingerprint and is inferred again.
- Schema inference (CSV/JSON) samples the data and is a driver-side
  convenience for ingestion utilities; production loads at scale pass
  an explicit schema (supported by both helpers) so malformed rows
  land in ``_corrupt_record`` instead of poisoning inference.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingest_utils_spark.session import ensure_runtime_confs

#: The fixture star schema + events stream table + LLM corpus tables
#: (TESTDATA.md, FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# An events.ts stored as INT64 TIMESTAMP(NANOS) arrives as raw int64
# nanoseconds (see session._RUNTIME_CONFS; the fixtures store
# microseconds, which Spark reads as TIMESTAMP_NTZ directly): convert
# it to TIMESTAMP_NTZ at microsecond precision, anchored at the
# epoch with timestampadd so the conversion is independent of the
# session time zone.  `div` truncates toward zero, NOT floor — that is
# deliberate: DuckDB's ns-parquet read does the same (probed round 7:
# -1500 ns reads back as -1 µs in DuckDB, the trunc value; floor would
# give -2), so pre-epoch sub-µs timestamps match the oracle
# bit-for-bit only with truncation.
_NS_TO_TS_NTZ = (
    "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


#: absolute path -> (path_fingerprint, inferred schema) of its last
#: inferred read; in-process only, one entry per path.
_SCHEMAS: dict[str, tuple[str, T.StructType]] = {}


def path_fingerprint(path: str) -> str:
    """sha256 over a parquet path's absolute root plus every file's
    (relpath, size, mtime_ns), for both single files and part-file
    directories.  Metadata-only: no file contents are read and no
    Spark job runs."""
    root = os.path.abspath(path)
    h = hashlib.sha256(root.encode())
    if os.path.isdir(root):
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for fn in sorted(filenames):
                st = os.stat(os.path.join(dirpath, fn))
                rel = os.path.relpath(os.path.join(dirpath, fn), root)
                h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}".encode())
    elif os.path.exists(root):
        st = os.stat(root)
        h.update(f"{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    when the path's fingerprint equals the one its memoized schema was
    inferred under.  A miss infers as Spark does and replaces the
    path's entry; entries of paths that no longer exist are dropped
    then too."""
    key = os.path.abspath(path)
    # Fingerprint BEFORE inferring: a rewrite racing the inference can
    # only leave a stale fingerprint (a later miss), never a stale
    # schema.  So every entry is self-consistent and concurrent callers
    # need no lock: a lost update costs one more inference.
    fp = path_fingerprint(key)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    for k in list(_SCHEMAS):
        if k == key or not os.path.exists(k):
            _SCHEMAS.pop(k, None)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The single entry point all query plans use, so schema quirks are
    normalized in exactly one place.
    """
    ensure_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV reader with header + schema inference (or explicit schema)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-lines reader (one JSON object per line)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
