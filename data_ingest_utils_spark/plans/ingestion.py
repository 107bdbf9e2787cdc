"""SURVEY §2b — ingestion helpers (the reference's own utility surface).

Each plan demonstrates one ``operators.ingest`` helper on fixture data
so the DuckDB oracle can hash-match the transform semantics.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingest_utils_spark.operators import ingest as ing
from data_ingest_utils_spark.plans.money import money_sum, money_sum_sql
from data_ingest_utils_spark.plans.registry import plan
from data_ingest_utils_spark.sources.readers import load_table


@plan(
    "ing_normalize_columns",
    oracle="""
    SELECT c_custkey AS cust_key, trim(c_name) AS customer_name,
           c_nationkey AS nation_key, c_acctbal AS acct_bal
    FROM customer
    """,
)
def ing_normalize_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy source headers → lake-safe snake_case + trimmed strings."""
    messy = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("  Cust Key "),
        F.col("c_name").alias("Customer-Name"),
        F.col("c_nationkey").alias("NATION  KEY"),
        F.col("c_acctbal").alias("acct.bal"),
    )
    return ing.normalize_columns(messy)


@plan(
    "ing_cast_columns",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS INTEGER)          AS o_custkey,
           TRY_CAST(o_orderstatus AS INTEGER)  AS o_orderstatus,
           TRY_CAST(o_orderpriority AS DOUBLE) AS o_orderpriority
    FROM orders
    """,
)
def ing_cast_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative safe casts: bad values → NULL, never a failed job."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return ing.cast_columns(
        o,
        {"o_custkey": "int", "o_orderstatus": "int", "o_orderpriority": "double"},
    )


@plan(
    "ing_standardize_nulls",
    oracle="""
    SELECT o_orderkey,
           NULLIF(NULLIF(NULLIF(
             CASE WHEN o_orderstatus = 'P' THEN 'N/A' ELSE o_orderstatus END,
             ''), 'NULL'), 'N/A') AS status_clean
    FROM orders
    """,
)
def ing_standardize_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel strings ('', 'NULL', 'N/A', …) → real NULLs.  The 'P'
    status is rewritten to a sentinel first so the fixture (which has
    no dirty cells) actually exercises the operator."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", F.lit("N/A"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status_clean"),
    )
    return ing.standardize_nulls(o, ["status_clean"])


@plan(
    "ing_add_audit_cols",
    oracle="""
    WITH ser AS (
      SELECT doc_id,
             CASE WHEN doc_id IS NULL THEN 'N'
                  ELSE 'V' || length(CAST(doc_id AS VARCHAR)) || ':'
                       || CAST(doc_id AS VARCHAR) END AS f1,
             CASE WHEN text IS NULL THEN 'N'
                  ELSE 'V' || length(text) || ':' || text END AS f2,
             CASE WHEN lang IS NULL THEN 'N'
                  ELSE 'V' || length(lang) || ':' || lang END AS f3,
             CASE WHEN source IS NULL THEN 'N'
                  ELSE 'V' || length(source) || ':' || source END AS f4,
             CASE WHEN n_chars IS NULL THEN 'N'
                  ELSE 'V' || length(CAST(n_chars AS VARCHAR)) || ':'
                       || CAST(n_chars AS VARCHAR) END AS f5
      FROM documents
    )
    SELECT doc_id,
           'documents.parquet' AS _audit_source_file,
           sha256(concat_ws(chr(31), f1, f2, f3, f4, f5))
             AS _audit_row_hash,
           'round1' AS _audit_load_id
    FROM ser
    """,
    # Layout-aware twin for matched-scale probes (round 13, VERDICT r12
    # #3): scale dirs hold a DIRECTORY of part files, so the engine's
    # per-row part-file basenames are correct production behavior that
    # the single-file literal above cannot describe.  read_parquet with
    # filename=true recomputes the REAL basename per row.
    probe_oracle="""
    WITH ser AS (
      SELECT doc_id,
             parse_filename(filename) AS _src,
             CASE WHEN doc_id IS NULL THEN 'N'
                  ELSE 'V' || length(CAST(doc_id AS VARCHAR)) || ':'
                       || CAST(doc_id AS VARCHAR) END AS f1,
             CASE WHEN text IS NULL THEN 'N'
                  ELSE 'V' || length(text) || ':' || text END AS f2,
             CASE WHEN lang IS NULL THEN 'N'
                  ELSE 'V' || length(lang) || ':' || lang END AS f3,
             CASE WHEN source IS NULL THEN 'N'
                  ELSE 'V' || length(source) || ':' || source END AS f4,
             CASE WHEN n_chars IS NULL THEN 'N'
                  ELSE 'V' || length(CAST(n_chars AS VARCHAR)) || ':'
                       || CAST(n_chars AS VARCHAR) END AS f5
      FROM read_parquet('{documents_path}', filename=true)
    )
    SELECT doc_id,
           _src AS _audit_source_file,
           sha256(concat_ws(chr(31), f1, f2, f3, f4, f5))
             AS _audit_row_hash,
           'round1' AS _audit_load_id
    FROM ser
    """,
)
def ing_add_audit_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load metadata: source-file basename + sha256 row fingerprint.

    Oracle-backed since round 7 (VERDICT r6 #3a): ``deterministic=True``
    projects the basename of ``input_file_name()`` (env-independent)
    and a sha256 over the chr(31)-joined row serialization, both of
    which DuckDB recomputes exactly — so the driver hash-checks real
    audit-column semantics instead of a rows-only execution.  The
    driver oracle's single-file literal is correct for its sf0.01
    fixture; matched-scale probes use the layout-aware ``probe_oracle``
    twin (``read_parquet(..., filename=true)``) so per-part-file
    basenames — the real production behavior — certify too."""
    docs = load_table(spark, sf_dir, "documents")
    return ing.with_audit(docs, load_id="round1", deterministic=True).select(
        "doc_id", "_audit_source_file", "_audit_row_hash", "_audit_load_id"
    )


@plan(
    "ing_incremental_filter",
    oracle="""
    SELECT event_id, ts, user_id
    FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def ing_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental load; predicate pushes to the scan."""
    ev = load_table(spark, sf_dir, "events")
    return ing.incremental(
        ev, "ts", F.expr("TIMESTAMP_NTZ '2024-01-15 00:00:00'")
    ).select("event_id", "ts", "user_id")


@plan(
    "ing_upsert_latest",
    oracle="""
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def ing_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 keep-latest-per-key compaction (merge/upsert semantics)."""
    ev = load_table(spark, sf_dir, "events")
    return ing.latest_per_key(ev, ["user_id"], "ts", tiebreakers=["event_id"]).select(
        "user_id", "event_id", "ts", "value"
    )


@plan(
    "ing_scd2_history",
    oracle="""
    SELECT user_id, event_id, value AS attr_value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM events
    """,
)
def ing_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each change event becomes a versioned
    row with [valid_from, valid_to) derived from the NEXT change of
    the same key (lead window); the open-ended row is current.

    100 TB: one shuffle on the business key — the standard
    change-capture → dimension-history compaction, no self-join."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@plan(
    "ing_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
    ), updates AS (
      SELECT c_custkey, c_name, round(c_acctbal + 100.0, 6) AS c_acctbal
      FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
           coalesce(u.c_name, b.c_name)       AS c_name,
           round(coalesce(u.c_acctbal, b.c_acctbal), 6) AS c_acctbal,
           CASE WHEN u.c_custkey IS NULL THEN 'kept'
                WHEN b.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL OUTER JOIN updates u USING (c_custkey)
    """,
)
def ing_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) semantics without a lakehouse table format:
    full-outer join base vs updates on the key; updates win, unmatched
    updates insert, unmatched base rows are kept.

    100 TB: this is the copy-on-write merge shape — one shuffle of
    each side on the key.  On Delta/Iceberg the same logic is
    `MERGE INTO`; file-level pruning then limits the rewrite to
    touched files."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 6).alias("c_acctbal"),
    )
    # base/updates share lineage (both derive from cust) — string
    # alias paths disambiguate where attribute ids collide.
    joined = base.alias("b").join(
        updates.alias("u"),
        F.col("b.c_custkey") == F.col("u.c_custkey"),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_name"), F.col("b.c_name")).alias("c_name"),
        F.round(
            F.coalesce(F.col("u.c_acctbal"), F.col("b.c_acctbal")), 6
        ).alias("c_acctbal"),
        F.when(F.col("u.c_custkey").isNull(), "kept")
        .when(F.col("b.c_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@plan(
    "ing_pipeline_e2e",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(year(o_orderdate) AS INTEGER) AS o_year
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_totalprice > 1000.0
    ) WHERE rn = 1
    """,
)
def ing_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative pipeline end-to-end: the config-driven spec (data,
    not code) composes normalize → filter → derive → latest-per-key →
    project into ONE Catalyst plan — the filter still reaches the
    scan, pruning passes through every step."""
    from data_ingest_utils_spark.pipeline import apply_pipeline

    spec = [
        {"op": "normalize_columns"},
        {"op": "filter", "predicate": "o_totalprice > 1000.0"},
        {"op": "with_column", "name": "o_year",
         "expr": "CAST(year(o_orderdate) AS INT)"},
        {"op": "latest_per_key", "keys": ["o_custkey"], "ts_col": "o_orderdate",
         "tiebreakers": ["o_orderkey"]},
        {"op": "select", "columns": ["o_custkey", "o_orderkey",
                                     "o_totalprice", "o_year"]},
    ]
    return apply_pipeline(load_table(spark, sf_dir, "orders"), spec)


@plan(
    "ing_dq_summary",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT o_orderkey)                    AS distinct_keys,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS null_custkey,
           round(min(o_totalprice), 6)                   AS min_price,
           round(max(o_totalprice), 6)                   AS max_price,
           round(avg(o_totalprice), 6)                   AS avg_price,
           min(o_orderdate)                              AS min_date,
           max(o_orderdate)                              AS max_date
    FROM orders
    """,
)
def ing_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of a load: row/distinct/null counts and
    value ranges in ONE aggregation pass — the post-load check an
    ingestion utility runs before publishing a partition.  100 TB:
    single scan, partial/final hash agg; attach per-partition via
    groupBy(load_date) unchanged."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_custkey"),
        F.round(F.min("o_totalprice"), 6).alias("min_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


@plan(
    "ing_dq_quarantine",
    oracle="""
    SELECT o_orderkey,
           concat_ws(',',
             CASE WHEN o_totalprice <= 0 THEN 'price_nonpositive' END,
             CASE WHEN o_orderstatus NOT IN ('F','O') THEN 'bad_status' END,
             CASE WHEN year(o_orderdate) < 1992 THEN 'date_too_old' END
           ) AS violations
    FROM orders
    WHERE o_totalprice <= 0 OR o_orderstatus NOT IN ('F','O')
       OR year(o_orderdate) < 1992
    """,
)
def ing_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-based quarantine routing: rows violating ANY rule
    are emitted with the comma-joined list of violated rule names
    (the quarantine sink side of a valid/quarantine split; the valid
    side is the complement filter).  Rules are pure predicates ⇒ the
    split is one scan, both sides pushdown-friendly."""
    o = load_table(spark, sf_dir, "orders")
    rules = {
        "price_nonpositive": F.col("o_totalprice") <= 0,
        "bad_status": ~F.col("o_orderstatus").isin("F", "O"),
        "date_too_old": F.year("o_orderdate") < 1992,
    }
    tags = [F.when(pred, F.lit(name)) for name, pred in rules.items()]
    any_violation = reduce(operator.or_, rules.values())
    return (
        o.filter(any_violation)
        .select("o_orderkey", F.concat_ws(",", *tags).alias("violations"))
    )


@plan(
    "scan_merge_schema",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN region IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_region,
           count(DISTINCT region) AS n_regions
    FROM (
      SELECT n_nationkey, NULL AS region FROM nation
      UNION ALL
      SELECT n_nationkey, CAST(n_regionkey AS VARCHAR) AS region FROM nation
    )
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches — the second adds
    a ``region`` column — read back with mergeSchema=true; old rows
    surface NULL for the added column.  The standard additive-column
    lake upgrade, no rewrite of historical files."""
    import shutil

    from data_ingest_utils_spark.plans.cache import SCRATCH

    path = f"{SCRATCH}/evolving_nation"
    # rmtree the PARENT first (round-8 review): per-subdirectory
    # overwrite only replaces batch=v1/batch=v2 — a stale sibling
    # partition dir from an aborted or older-version run would ride
    # back in through partition discovery and silently shift the
    # pinned counts (same guard class as scan_json_corrupt).
    shutil.rmtree(path, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    v1 = nation.select("n_nationkey")
    v2 = nation.select(
        "n_nationkey", F.col("n_regionkey").cast("string").alias("region")
    )
    v1.write.mode("overwrite").parquet(f"{path}/batch=v1")
    v2.write.mode("overwrite").parquet(f"{path}/batch=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("region").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_region"),
        F.countDistinct("region").alias("n_regions"),
    )


@plan(
    "ing_compact_small_files",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n, {money_sum_sql('l_extendedprice', 2)} AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ing_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented table (64 tiny files) is
    rewritten as 4 key-sorted files, then verified identical by
    aggregate.  The standard lake-maintenance pass — fewer files cuts
    listing/open overhead ~16×, and sortWithinPartitions(l_orderkey)
    tightens parquet row-group min/max stats so later key-range
    filters skip whole row groups.  100 TB: run per partition, target
    file size = spark.sql.files.maxPartitionBytes."""
    from data_ingest_utils_spark.plans.cache import SCRATCH

    fragmented = f"{SCRATCH}/fragmented_lineitem"
    compacted = f"{SCRATCH}/compacted_lineitem"
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(fragmented)
    (
        spark.read.parquet(fragmented)
        .repartition(4)
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(compacted)
    )
    return (
        spark.read.parquet(compacted)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            # exact micro-unit accumulation (plans/money.py, round 13):
            # the compaction rewrite reorders the sum, which is exactly
            # the order-sensitivity the integer path removes
            money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@plan(
    "ing_schema_report",
    oracle="""
    WITH cols AS (
      SELECT 'lineitem' AS table_name, column_name, column_type
      FROM (DESCRIBE SELECT * FROM lineitem)
      UNION ALL SELECT 'events', column_name, column_type
      FROM (DESCRIBE SELECT * FROM events)
      UNION ALL SELECT 'documents', column_name, column_type
      FROM (DESCRIBE SELECT * FROM documents)
      UNION ALL SELECT 'embeddings', column_name, column_type
      FROM (DESCRIBE SELECT * FROM embeddings)
    )
    SELECT table_name, column_name,
           CASE column_type
             WHEN 'BIGINT' THEN 'int64'
             WHEN 'INTEGER' THEN 'int32'
             WHEN 'DOUBLE' THEN 'float64'
             WHEN 'VARCHAR' THEN 'string'
             WHEN 'TIMESTAMP' THEN 'timestamp'
             WHEN 'FLOAT[]' THEN 'array<float>'
             ELSE lower(column_type)
           END AS col_type
    FROM cols
    """,
)
def ing_schema_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema report over the lake tables — the ingest-utility
    "describe source / generate DDL" surface: one row per column with
    an engine-neutral type name (both engines map their native names
    onto the same vocabulary).  Metadata-only: reads parquet footers,
    never data, so it costs the same at 100 TB as at 1 MB."""
    neutral = {
        "bigint": "int64",
        "int": "int32",
        "double": "float64",
        "string": "string",
        # parquet timestamps carry no zone -> Spark surfaces NTZ; both
        # engines' wall-clock semantics agree, so one neutral name.
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
        "array<float>": "array<float>",
    }
    rows = []
    for t in ("lineitem", "events", "documents", "embeddings"):
        for field in load_table(spark, sf_dir, t).schema.fields:
            s = field.dataType.simpleString()
            rows.append((t, field.name, neutral.get(s, s)))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, col_type string"
    )


@plan(
    "ing_type_infer_report",
    oracle="""
    WITH samples AS (
      SELECT 'l_orderkey' AS col, CAST(l_orderkey AS VARCHAR) AS s FROM lineitem
      UNION ALL SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem
      UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
      UNION ALL SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR) FROM lineitem
    )
    SELECT col, count(*) AS n_rows,
           count(*) FILTER (WHERE regexp_matches(s, '^-?[0-9]+$')) AS n_int,
           count(TRY_CAST(s AS DOUBLE)) AS n_double,
           count(*) FILTER (WHERE TRY_CAST(s AS TIMESTAMP) IS NOT NULL
                            AND TRY_CAST(s AS DOUBLE) IS NULL) AS n_ts,
           CASE
             WHEN count(*) = count(*) FILTER (WHERE regexp_matches(s, '^-?[0-9]+$'))
               THEN 'int64'
             WHEN count(*) = count(TRY_CAST(s AS DOUBLE)) THEN 'float64'
             WHEN count(*) = count(*) FILTER (WHERE TRY_CAST(s AS TIMESTAMP) IS NOT NULL
                                              AND TRY_CAST(s AS DOUBLE) IS NULL)
               THEN 'timestamp'
             ELSE 'string'
           END AS inferred
    FROM samples GROUP BY col
    """,
)
def ing_type_infer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type inference over string-typed source data — the ingest
    utility's "type cleaning" core: per column, how many values parse
    as int / double / timestamp, and the inferred target type
    (preference int64 > float64 > timestamp > string, all-rows-parse
    rule).  Int-likeness is a regexp on BOTH sides because the engines'
    TRY_CAST disagree on decimal strings (DuckDB rounds '5.5'->6,
    Spark yields NULL); ts-likeness is "casts as timestamp AND NOT as
    a number" because Spark parses bare-year digits ('5979') as
    timestamps while DuckDB does not; double TRY_CAST agrees as-is.
    One union-scan + one hash agg: a single pass at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    sample = reduce(
        DataFrame.unionByName,
        [
            li.select(F.lit(col).alias("col"), F.col(col).cast("string").alias("s"))
            for col in ("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
        ],
    )
    int_like = F.col("s").rlike("^-?[0-9]+$")
    ts_like = (
        F.col("s").try_cast("timestamp").isNotNull()
        & F.col("s").try_cast("double").isNull()
    )
    n_rows = F.count("*")
    n_int = F.sum(int_like.cast("long"))
    n_double = F.count(F.col("s").try_cast("double"))
    n_ts = F.sum(ts_like.cast("long"))
    return sample.groupBy("col").agg(
        n_rows.alias("n_rows"),
        n_int.alias("n_int"),
        n_double.alias("n_double"),
        n_ts.alias("n_ts"),
        F.when(n_rows == n_int, "int64")
        .when(n_rows == n_double, "float64")
        .when(n_rows == n_ts, "timestamp")
        .otherwise("string")
        .alias("inferred"),
    )


@plan(
    "ing_row_hash_cdc",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice, 2) * 100 AS BIGINT))) AS h
      FROM orders
    ), new AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_orderkey, o_orderpriority,
                 CAST(round(CASE WHEN o_orderkey % 13 = 0
                                 THEN o_totalprice * 1.1
                                 ELSE o_totalprice END, 2) * 100 AS BIGINT)))
               AS h
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k,
             md5(concat_ws('|', o_orderkey + 10000000, o_orderpriority,
                 CAST(round(o_totalprice, 2) * 100 AS BIGINT))) AS h
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT coalesce(old.k, new.k) AS o_orderkey,
           CASE WHEN old.k IS NULL THEN 'INSERT'
                WHEN new.k IS NULL THEN 'DELETE'
                ELSE 'UPDATE' END AS change_type
    FROM old FULL OUTER JOIN new ON old.k = new.k
    WHERE old.k IS NULL OR new.k IS NULL OR old.h <> new.h
    """,
)
def ing_row_hash_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff change data capture: hash every row once, full
    outer join old vs new on the key, classify INSERT / DELETE /
    UPDATE (hash mismatch), emit changed rows only.  The hash collapses
    arbitrary row width to one comparison, so the join shuffles keys +
    32-byte digests, not full rows — the standard warehouse CDC shape
    when no transaction log exists.  Floats enter the hash as
    round×100 BIGINTs (float→string rendering differs across engines).
    The 'new' snapshot is derived deterministically: ~1% deletes
    (k%97=0), ~7% price updates (k%13=0), ~1% inserts (k%101=0)."""
    o = load_table(spark, sf_dir, "orders")

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("k"),
                    F.col("o_orderpriority"),
                    (F.round(F.col("price"), 2) * 100).cast("long"),
                )
            ).alias("h"),
        )

    old = hashed(
        o.select(
            F.col("o_orderkey").alias("k"),
            "o_orderpriority",
            F.col("o_totalprice").alias("price"),
        )
    )
    kept = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")).alias("price"),
    )
    inserted = o.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("k"),
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )
    new = hashed(kept.unionByName(inserted))
    j = old.withColumnRenamed("k", "ok").withColumnRenamed("h", "oh").join(
        new.withColumnRenamed("k", "nk").withColumnRenamed("h", "nh"),
        F.col("ok") == F.col("nk"),
        "full_outer",
    )
    return j.filter(
        F.col("ok").isNull() | F.col("nk").isNull() | (F.col("oh") != F.col("nh"))
    ).select(
        F.coalesce("ok", "nk").alias("o_orderkey"),
        F.when(F.col("ok").isNull(), "INSERT")
        .when(F.col("nk").isNull(), "DELETE")
        .otherwise("UPDATE")
        .alias("change_type"),
    )


@plan(
    "ing_fixed_width",
    oracle="""
    SELECT CAST(trim(substr(line, 1, 10)) AS BIGINT) AS c_custkey,
           trim(substr(line, 11, 25)) AS c_name,
           trim(substr(line, 36, 12)) AS c_mktsegment
    FROM (
      SELECT rpad(CAST(c_custkey AS VARCHAR), 10, ' ')
             || rpad(c_name, 25, ' ')
             || rpad(c_mktsegment, 12, ' ') AS line
      FROM customer
    )
    """,
)
def ing_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL/mainframe-export) file ingestion: serialize
    customer to 47-char fixed layout, read back as raw text, slice
    columns by byte position and trim — the classic ingest-utility
    shape for files with no delimiter at all.  Round-trips through a
    real text file; all slicing is codegen'd substring, no UDF."""
    from data_ingest_utils_spark.plans.cache import SCRATCH

    path = f"{SCRATCH}/fixed_width_customer"
    c = load_table(spark, sf_dir, "customer")
    c.select(
        F.concat(
            F.rpad(F.col("c_custkey").cast("string"), 10, " "),
            F.rpad("c_name", 25, " "),
            F.rpad("c_mktsegment", 12, " "),
        ).alias("value")
    ).coalesce(1).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return lines.select(
        F.trim(F.substring("value", 1, 10)).cast("long").alias("c_custkey"),
        F.trim(F.substring("value", 11, 25)).alias("c_name"),
        F.trim(F.substring("value", 36, 12)).alias("c_mktsegment"),
    )


@plan(
    "ing_json_flatten",
    oracle="""
    SELECT event_id,
           event_type                                   AS payload_event_type,
           user_id                                      AS payload_metrics_user_id,
           round(value, 6)                              AS payload_metrics_value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS payload_props_k
    FROM events
    """,
)
def ing_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-payload flattening: parse the JSON props column, nest it
    under a struct alongside typed metrics, then auto-flatten every
    struct leaf to a top-level column via operators.ingest.
    flatten_structs (schema-driven — works unchanged when the feed
    adds fields).  All leaves are simple projections, so column
    pruning still reaches the scan; from_json is the only parse cost
    and runs JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("event_type").alias("event_type"),
            F.struct(
                F.col("user_id").alias("user_id"),
                F.round("value", 6).alias("value"),
            ).alias("metrics"),
            F.from_json("props", "k long").alias("props"),
        ).alias("payload"),
    )
    return ing.flatten_structs(nested)
