"""Readers: parquet fixture tables, CSV with inference, JSON lines.

Scale notes (100 TB):
- ``spark.read.parquet`` keeps the vectorized columnar reader, filter
  pushdown to row groups / page index, and partition pruning in play —
  every downstream operator declares filters as Column exprs so they
  reach the scan.
- Schema inference (CSV/JSON) samples the data and is a driver-side
  convenience for ingestion utilities; production loads at scale pass
  an explicit schema (supported by both helpers) so malformed rows
  land in ``_corrupt_record`` instead of poisoning inference.
"""

from __future__ import annotations

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

# events.ts arrives as raw int64 nanoseconds (see session._RUNTIME_CONFS);
# convert to TIMESTAMP_NTZ at microsecond precision, anchored at the
# epoch with timestampadd so the conversion is independent of the
# session time zone.  `div` truncates toward zero, NOT floor — that is
# deliberate: DuckDB's ns-parquet read does the same (probed round 7:
# -1500 ns reads back as -1 µs in DuckDB, the trunc value; floor would
# give -2), so pre-epoch sub-µs timestamps match the oracle
# bit-for-bit only with truncation.
_NS_TO_TS_NTZ = (
    "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The single entry point all query plans use, so schema quirks are
    normalized in exactly one place.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
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
