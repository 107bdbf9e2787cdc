"""Ingestion helpers — the reference's own utility surface (SURVEY.md §2b).

Flat-file / RDBMS → lake-table hygiene: column-name normalization,
declarative safe casts, null standardization, audit columns,
high-watermark incremental filters, and keep-latest-per-key upserts.

All pure Column-expression transforms: Catalyst folds them into the
scan (pushdown/pruning preserved), nothing here breaks whole-stage
codegen.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: String cells with these exact values are standardized to NULL.
DEFAULT_NULL_SENTINELS = ("", "NULL", "null", "N/A", "n/a", "NA", "None", "-")


def normalize_name(name: str) -> str:
    """``"  Order Key#1 " -> "order_key_1"`` — lake-safe column name."""
    s = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip())
    s = re.sub(r"_+", "_", s).strip("_").lower()
    return s or "col"


def normalize_columns(df: DataFrame, trim_strings: bool = True) -> DataFrame:
    """Lowercase/underscore-safe column names; optionally trim strings.

    Duplicate post-normalization names get positional suffixes so the
    result is always a valid schema.
    """
    taken: set[str] = set()
    new_names = []
    for c in df.columns:
        n = base = normalize_name(c)
        # Suffix until globally unique — the generated name itself is
        # registered, so 'a','a','a_1' can't emit 'a_1' twice.
        i = 0
        while n in taken:
            i += 1
            n = f"{base}_{i}"
        taken.add(n)
        new_names.append(n)
    out = df.toDF(*new_names)
    if trim_strings:
        out = out.select(
            *[
                F.trim(F.col(c)).alias(c) if t == "string" else F.col(c)
                for c, t in out.dtypes
            ]
        )
    return out


def cast_columns(df: DataFrame, casts: dict[str, str], safe: bool = True) -> DataFrame:
    """Declarative type coercion; ``safe=True`` maps bad values → NULL
    (``try_cast``) instead of failing the job — the ingestion default.
    Unknown cast targets raise (fail-fast contract): a typo'd column
    name must not silently leave the raw column uncast.
    """
    unknown = sorted(set(casts) - set(df.columns))
    if unknown:
        raise ValueError(f"cast_columns: columns not in frame: {unknown}")
    cols = []
    for c in df.columns:
        if c in casts:
            col = F.col(c)
            cols.append((col.try_cast(casts[c]) if safe else col.cast(casts[c])).alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def standardize_nulls(
    df: DataFrame,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Replace the :data:`DEFAULT_NULL_SENTINELS` strings (``''``,
    ``'NULL'``, ``'N/A'``, …) with NULL.

    ``cols`` must be a sequence of STRING column names present in the
    frame (fail-fast contract): a bare string would be set()-exploded
    into characters, and a typo'd or non-string column would silently
    let sentinel values through into the lake.
    """
    if isinstance(cols, str):
        raise TypeError(
            f"standardize_nulls: cols must be a sequence of names, got the "
            f"string {cols!r} (it would be exploded into characters)"
        )
    if cols is not None:
        dtypes = dict(df.dtypes)
        unknown = sorted(set(cols) - set(dtypes))
        if unknown:
            raise ValueError(f"standardize_nulls: columns not in frame: {unknown}")
        non_string = sorted(c for c in cols if dtypes[c] != "string")
        if non_string:
            raise ValueError(
                f"standardize_nulls: non-string columns cannot hold string "
                f"sentinels: {non_string}"
            )
    targets = set(cols) if cols is not None else {c for c, t in df.dtypes if t == "string"}
    sent = F.array(*[F.lit(s) for s in DEFAULT_NULL_SENTINELS])
    out_cols = []
    for c, t in df.dtypes:
        if c in targets and t == "string":
            out_cols.append(
                F.when(F.array_contains(sent, F.col(c)), F.lit(None)).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return df.select(*out_cols)


def with_audit(df: DataFrame, load_id: str = "", deterministic: bool = False) -> DataFrame:
    """Attach load metadata: source file, a stable per-row content hash,
    and an optional load id.

    Default fingerprint is ``xxhash64`` over all NON-audit columns
    (``_audit_*`` from a prior ingest are excluded, so re-auditing is
    idempotent on content) — the cheap JVM-side 64-bit hash (used
    again by dedup operators) — plus the full ``input_file_name()``
    path (NULL, not ``''``, for non-file-backed frames such as JDBC
    pulls).  ``deterministic=True`` swaps in a
    cross-engine-reproducible form: the source file reduced to its
    basename (env-independent) and ``sha256`` over a chr(31)-joined,
    length-prefixed string serialization of the same columns ('N' for NULL,
    'V<charlen>:<value>' otherwise — NULL distinct from every value,
    and a value containing the delimiter can't shift bytes across
    field boundaries) — so an external engine (e.g. a DuckDB audit
    oracle) can recompute both.  Caveat: the serialized
    form casts every column to string, so float formatting must agree
    between engines — use it on int/string/date frames, or pre-format
    floats explicitly.
    """
    # Re-audit safety (round-8 review): hash only NON-audit columns,
    # or a frame already carrying _audit_* (re-ingest, a pipeline spec
    # listing with_audit twice) would fold the STALE hash/source/load
    # values into the new fingerprint — two rows with identical
    # business content but different prior loads would then get
    # different "content" hashes and break downstream CDC/dedup.
    content_cols = [c for c in df.columns if not c.startswith("_audit_")]
    if deterministic:
        src = F.regexp_extract(F.input_file_name(), "[^/]+$", 0)
        # Unambiguous field serialization: 'N' for NULL (concat_ws
        # SKIPS null args, so rows differing only in WHICH column is
        # NULL would otherwise collapse), 'V<charlen>:<value>' for
        # values — the length prefix pins each field's extent, so a
        # value CONTAINING the chr(31) delimiter can't shift bytes
        # into a neighboring field and collide with a distinct row.
        def _field(c: str):
            s = F.col(c).cast("string")
            return F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.lit("V"), F.length(s).cast("string"), F.lit(":"), s)
            )

        row_hash = F.sha2(
            F.concat_ws("\x1f", *[_field(c) for c in content_cols]), 256
        )
    else:
        src = F.input_file_name()
        # xxhash64 SKIPS null inputs (same semantics as concat_ws the
        # deterministic branch guards against), so ('a', NULL) and
        # (NULL, 'a') would collide on values alone (round-8 review —
        # reproduced).  Prefixing per-column null flags disambiguates
        # WHICH columns were NULL while staying one codegen'd
        # expression: the flag ints always participate in the hash.
        row_hash = F.xxhash64(
            *[F.isnull(c).cast("int") for c in content_cols],
            *[F.col(c) for c in content_cols],
        )
    # Non-file-backed frames (JDBC pulls, Python data sources, in-memory
    # frames) have no input file: input_file_name() returns '' there,
    # and a silently-empty-string lineage column reads like data —
    # surface the absence as NULL instead (round-8 review).
    src = F.nullif(src, F.lit(""))
    return (
        df.withColumn("_audit_source_file", src)
        .withColumn("_audit_row_hash", row_hash)
        .withColumn("_audit_load_id", F.lit(load_id))
    )


def incremental(df: DataFrame, ts_col: str, last_ts) -> DataFrame:
    """High-watermark incremental load: rows strictly after ``last_ts``.

    100 TB: this is a Column predicate, so it pushes down to parquet
    row-group stats / partition pruning — an incremental load over a
    date-partitioned lake table touches only new partitions.
    """
    return df.filter(F.col(ts_col) > F.lit(last_ts))


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the latest row per key (SCD-1 upsert compaction).

    Deterministic: ``ts`` descending, then explicit tiebreaker columns
    descending.  One hash-partitioned window shuffle on ``keys``; at
    100 TB, pre-bucketing the lake table by the same keys removes the
    shuffle entirely.
    """
    from data_ingest_utils_spark.operators.relational import distinct_on

    order = [F.col(ts_col).desc()] + [F.col(t).desc() for t in tiebreakers]
    return distinct_on(df, list(keys), order)


def flatten_structs(df: DataFrame) -> DataFrame:
    """Recursively expand every StructType column into scalar columns
    named ``parent_child_...`` (schema-driven, purely
    declarative — each leaf becomes one ``col("a.b.c").alias("a_b_c")``
    projection, so Catalyst prunes unreferenced leaves at the parquet
    scan and no data is materialized for dropped subtrees).  The
    standard landing-zone step for deeply nested JSON/protobuf feeds:
    downstream SQL gets flat columns without a UDF or a schema
    hand-map."""
    from pyspark.sql import types as T

    cols = []
    out_names: set[str] = set()

    def emit(path_expr, name: str) -> None:
        # Flattening can collide (e.g. struct a.b_c vs column a_b_c);
        # a silent duplicate column would poison every downstream
        # select-by-name, so fail loudly here.
        if name in out_names:
            raise ValueError(
                f"flatten_structs: duplicate output column {name!r}"
            )
        out_names.add(name)
        cols.append(path_expr.alias(name))

    def rec(path: str, flat: str, dtype) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                rec(f"{path}.`{f.name}`", f"{flat}_{f.name}", f.dataType)
        else:
            emit(F.col(path), flat)

    for f in df.schema.fields:
        if isinstance(f.dataType, T.StructType):
            rec(f"`{f.name}`", f.name, f.dataType)
        else:
            emit(F.col(f"`{f.name}`"), f.name)
    return df.select(cols)
