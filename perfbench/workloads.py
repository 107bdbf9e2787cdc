"""The workloads: each is a fixed list of ops over generated inputs,
plus the output checks for an untimed pass.

An op is one closed-loop request of the single client: a registry
query, one lake load batch, or one stream drain.  Ops call only the
engine's public surface.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

EVENTS_WATERMARK = "10 minutes"
WINDOW = "1 hour"


@dataclass
class Op:
    name: str
    run: Callable  # (ctx) -> result handed to the op's check


class Ctx:
    """What an op sees: the session, its inputs, the state set-up built
    (``base``), the current pass's output directory, and a span
    factory (a no-op when untraced)."""

    def __init__(self, spark, input_dir: str, base_dir: str, out_dir: str, tracer=None):
        self.spark, self.input, self.tracer = spark, input_dir, tracer
        self.base, self.out = base_dir, out_dir

    def span(self, name: str, layer: str):
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


# --------------------------------------------------------------- llm_curation

LLM_KEYS = (
    "llm_quality_score", "llm_dedup_near_exactverify", "llm_sim_ivf_kmeans",
)


def registry_op(key: str) -> Op:
    def run(ctx: Ctx):
        from data_ingest_utils_spark.plans import QUERIES

        with ctx.span(f"plans.{key}", "plans"):
            df = QUERIES[key](ctx.spark, ctx.input)
        with ctx.span("plans.exec", "plans.exec"):
            return df.toPandas()

    return Op(key, run)


def llm_ops(seed: int, manifest: dict) -> list[Op]:
    keys = list(LLM_KEYS)
    random.Random(seed).shuffle(keys)
    return [registry_op(k) for k in keys]


def llm_setup(ctx: Ctx) -> None:
    """Build the derived cache the ops serve from (the k-means
    centroids of the IVF cells), with the registry plans' arguments."""
    from data_ingest_utils_spark.plans import llm

    llm._kmeans_centroids_cached(ctx.spark, ctx.input, k=8, iters=2)


# --------------------------------------------------------------- ingest_lake

def _raw_schema():
    from pyspark.sql import types as T

    from perfbench.gen import RAW_ORDER_COLS

    return T.StructType([T.StructField(c, T.StringType()) for c in RAW_ORDER_COLS.values()])


ORDER_CASTS = {"o_orderkey": "long", "o_custkey": "long", "o_totalprice": "double",
               "o_orderdate": "date", "updated_at": "timestamp"}
CLEAN_SPEC = [
    {"op": "normalize_columns"},
    {"op": "standardize_nulls"},
    {"op": "cast_columns", "casts": ORDER_CASTS},
    {"op": "filter", "predicate": "o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL"},
]
SQL_TYPES = {"long": "BIGINT", "double": "DOUBLE", "date": "DATE", "timestamp": "TIMESTAMP"}
UPSERT_SPEC = [{"op": "latest_per_key", "keys": ["o_orderkey"], "ts_col": "updated_at"}]


def _table_dir(ctx: Ctx, b: int) -> str:
    """Batch 0 is the lake's initial snapshot, loaded during set-up."""
    return ctx.base if b == 0 else ctx.out


def load_batch(ctx: Ctx, b: int, lines: bool = True) -> None:
    """One lake load: three raw drops -> clean pipeline -> upsert over
    the previous table version -> partitioned write; plus the batch's
    line items written z-ordered."""
    from data_ingest_utils_spark.pipeline import apply_pipeline
    from data_ingest_utils_spark.sources import readers, writers

    drop = os.path.join(ctx.input, "drops", f"b{b}")
    schema = _raw_schema()
    raw = [
        readers.read_csv(ctx.spark, os.path.join(drop, "orders.csv"), schema=schema),
        readers.read_jsonl(ctx.spark, os.path.join(drop, "orders.jsonl"), schema=schema),
        readers.load_table(ctx.spark, drop, "orders"),
    ]
    clean = [apply_pipeline(df, CLEAN_SPEC) for df in raw]
    batch = clean[0].unionByName(clean[1]).unionByName(clean[2])
    if b:
        prev = writers.read_back(ctx.spark, os.path.join(_table_dir(ctx, b - 1), f"orders_v{b - 1}"))
        batch = prev.unionByName(batch)
    table = apply_pipeline(batch, UPSERT_SPEC)
    out = _table_dir(ctx, b)
    writers.write_partitioned(table, os.path.join(out, f"orders_v{b}"), ["o_orderstatus"])
    if lines:
        items = readers.load_table(ctx.spark, drop, "lineitem")
        writers.zorder_write(items, os.path.join(out, f"lineitem_b{b}"),
                             "l_partkey", "l_extendedprice", n_files=4)


def lake_setup(ctx: Ctx) -> None:
    """The lake's initial orders snapshot, from batch 0's drops."""
    load_batch(ctx, 0, lines=False)


def load_batch_op(b: int) -> Op:
    return Op(f"load_b{b}", lambda ctx: load_batch(ctx, b))


def drain_dedup_op(b: int) -> Op:
    def run(ctx: Ctx):
        from data_ingest_utils_spark.streaming import runner

        stream = runner.read_parquet_stream(ctx.spark, os.path.join(ctx.input, "events", f"b{b}"))
        deduped = stream.withWatermark("ts", EVENTS_WATERMARK).dropDuplicatesWithinWatermark(
            ["event_id"])
        runner.run_available_now(deduped, f"dedup_b{b}", output_mode="append")
        return ctx.spark.table(f"dedup_b{b}").toPandas()

    return Op(f"dedup_b{b}", run)


def drain_window_op(b: int) -> Op:
    def run(ctx: Ctx):
        from data_ingest_utils_spark.streaming import runner, transforms

        stream = runner.read_parquet_stream(ctx.spark, os.path.join(ctx.input, "events", f"b{b}"))
        out = transforms.watermarked_tumbling(stream, watermark=EVENTS_WATERMARK, width=WINDOW)
        runner.run_available_now(out, f"window_b{b}", output_mode="append")
        return ctx.spark.table(f"window_b{b}").toPandas()

    return Op(f"window_b{b}", run)


def lake_ops(seed: int, manifest: dict) -> list[Op]:
    """Batches after the snapshot load in order, each upserting over
    the last; where each batch's two stream drains fall around its
    load is seeded."""
    rng = random.Random(seed)
    ops: list[Op] = []
    for b in range(1, manifest["batches"]):
        group = [load_batch_op(b), drain_dedup_op(b), drain_window_op(b)]
        rng.shuffle(group)
        ops += group
    return ops


# --------------------------------------------------------------- checks

def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: sorted columns, numbers as
    float64, timestamps and dates as datetime64[us], rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "iufb":
            df[c] = s.astype("float64")
        elif s.dtype.kind == "M" or (len(s.dropna()) and hasattr(s.dropna().iloc[0], "year")):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        else:
            df[c] = s.astype(object).where(s.notna(), None)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal in row count, column names and values
    (order-insensitive); else the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canon(got), canon(want)
    for c in a.columns:
        va, vb = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f" and b[c].dtype.kind == "f":
            ok = (va == vb) | (np.isnan(va) & np.isnan(vb))
        else:
            ok = np.array([x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(va, vb)])
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"{c}: row {i}: {va[i]!r} != {vb[i]!r}"
    return None


def duck_views(con, input_dir: str) -> None:
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")


def check_llm(ctx: Ctx, results: dict, con, manifest: dict) -> dict:
    """Per-op failure text (None = passed)."""
    from data_ingest_utils_spark.plans import ORACLES

    duck_views(con, ctx.input)
    out: dict[str, str | None] = {}
    for key, pdf in results.items():
        if pdf is None:
            continue  # the op raised; already counted as failed
        if key in ORACLES:
            out[key] = frames_equal(pdf, con.execute(ORACLES[key]).fetchdf())
        else:
            out[key] = ROWS_ONLY[key](pdf)
    return out


def llm_dedup_counts(ctx: Ctx, results: dict) -> dict:
    """The dedup candidate and confirmed counts of a checked pass."""
    from data_ingest_utils_spark.operators import dedup as dd
    from data_ingest_utils_spark.sources.readers import load_table

    # The confirmed pairs are llm_dedup_near_exactverify's output; its
    # candidates are counted from the same banding (b=16, r=1) here,
    # outside any timing.
    docs = load_table(ctx.spark, ctx.input, "documents")
    cand = dd.minhash_band_candidates(docs, num_perm=16, bands=16, shingle_n=3).count()
    verified = results.get("llm_dedup_near_exactverify")
    conf = len(verified) if verified is not None else 0
    return {"candidates": cand, "confirmed": conf}


def _fail(checks: dict) -> str | None:
    bad = [k for k, ok in checks.items() if not ok]
    return f"invariants failed: {bad}" if bad else None


def _ivf_topk(pdf):
    """The top-k contract the repository certifies for IVF search."""
    sims = pdf["sim"].tolist()
    return _fail({"k_rows": len(pdf) == 5,
                  "ids_distinct": pdf["vec_id"].is_unique,
                  "sims_in_unit_range": all(-1 - 1e-9 <= x <= 1 + 1e-9 for x in sims),
                  "sims_descending": all(a >= b for a, b in zip(sims, sims[1:])),
                  "query_excluded": not (pdf["vec_id"] == 0).any()})


ROWS_ONLY = {"llm_sim_ivf_kmeans": _ivf_topk}


def _clean_sql(col: str) -> str:
    from data_ingest_utils_spark.operators.ingest import DEFAULT_NULL_SENTINELS

    sentinels = ", ".join("'" + s.replace("'", "''") + "'" for s in DEFAULT_NULL_SENTINELS)
    return f"CASE WHEN trim(\"{col}\") IN ({sentinels}) THEN NULL ELSE trim(\"{col}\") END"


def lake_oracle_sql(input_dir: str, batches: int) -> str:
    """The final orders table by DuckDB: every drop of every batch,
    cleaned like the pipeline, latest row per key."""
    from perfbench.gen import RAW_ORDER_COLS

    cols = ", ".join(f"{_clean_sql(raw)} AS {name}" for name, raw in RAW_ORDER_COLS.items())
    names = "{" + ", ".join(f"'{raw}': 'VARCHAR'" for raw in RAW_ORDER_COLS.values()) + "}"
    reads = []
    for b in range(batches):
        d = os.path.join(input_dir, "drops", f"b{b}")
        reads += [f"SELECT {cols} FROM read_csv('{d}/orders.csv', header=true, columns={names})",
                  f"SELECT {cols} FROM read_json('{d}/orders.jsonl', "
                  f"format='newline_delimited', columns={names})",
                  f"SELECT {cols} FROM read_parquet('{d}/orders.parquet')"]
    casts = ", ".join(f"TRY_CAST({c} AS {SQL_TYPES[ORDER_CASTS[c]]}) AS {c}"
                      if c in ORDER_CASTS else c for c in RAW_ORDER_COLS)
    return f"""
    WITH raw AS ({' UNION ALL '.join(reads)}),
    typed AS (SELECT {casts} FROM raw),
    kept AS (SELECT * FROM typed WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL)
    SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY updated_at DESC) AS rn
      FROM kept) WHERE rn = 1"""


def check_lake(ctx: Ctx, results: dict, con, manifest: dict) -> dict:
    out: dict[str, str | None] = {}
    batches = manifest["batches"]
    last = batches - 1
    got = ctx.spark.read.parquet(os.path.join(_table_dir(ctx, last), f"orders_v{last}")).toPandas()
    out[f"load_b{last}"] = frames_equal(got, con.execute(lake_oracle_sql(ctx.input, batches)).fetchdf())
    for b in range(1, batches):
        if b != last:
            out[f"load_b{b}"] = None  # each load is checked through the final version
        lines_sum = ("SELECT count(*), sum(hash(l_orderkey, l_partkey, l_suppkey, l_quantity, "
                     "l_extendedprice, l_discount)) FROM read_parquet('{}')")
        src = con.execute(lines_sum.format(os.path.join(ctx.input, "drops", f"b{b}", "lineitem.parquet"))).fetchone()
        dst = con.execute(lines_sum.format(
            os.path.join(_table_dir(ctx, b), f"lineitem_b{b}", "*.parquet"))).fetchone()
        if src != dst:
            out[f"load_b{b}"] = f"z-ordered line items differ: {dst} != {src}"
        events = os.path.join(ctx.input, "events", f"b{b}", "*.parquet")
        if results[f"dedup_b{b}"] is None or results[f"window_b{b}"] is None:
            continue  # the op raised; already counted as failed
        ids = results[f"dedup_b{b}"]["event_id"]
        want = con.execute(f"SELECT count(DISTINCT event_id) FROM read_parquet('{events}')").fetchone()[0]
        out[f"dedup_b{b}"] = None if (ids.is_unique and len(ids) == want) else (
            f"dedup kept {len(ids)} rows ({ids.nunique()} distinct), want {want}")
        # append mode emits a window once the watermark passes its end
        want_w = con.execute(f"""
            WITH ev AS (SELECT * FROM read_parquet('{events}')),
            wm AS (SELECT max(ts) - INTERVAL {EVENTS_WATERMARK} AS w FROM ev)
            SELECT time_bucket(INTERVAL {WINDOW}, ts) AS bucket_start, event_type,
                   count(*) AS n
            FROM ev GROUP BY 1, 2
            HAVING time_bucket(INTERVAL {WINDOW}, ts) + INTERVAL {WINDOW} <= (SELECT w FROM wm)
        """).fetchdf()
        got_w = results[f"window_b{b}"].copy()
        ts = pd.to_datetime(got_w["bucket_start"])
        got_w["bucket_start"] = ts.dt.tz_convert(None) if ts.dt.tz is not None else ts
        out[f"window_b{b}"] = frames_equal(got_w, want_w)
    return out


@dataclass
class Workload:
    ops: Callable    # (seed, manifest) -> [Op]
    setup: Callable  # (ctx) -> None: the state every set-up builds
    check: Callable  # (ctx, results, duckdb connection, manifest) -> {op: failure or None}
    counts: Callable = lambda ctx, results: {}  # (ctx, results) -> dedup counts
    warm_passes: int = 1  # untimed passes before the window, the first one checked


WORKLOADS = {
    "ingest_lake": Workload(lake_ops, lake_setup, check_lake),
    # The JVM compiles the llm plans' code paths over several passes: with
    # one warm pass the window's passes still got faster pass by pass.
    "llm_curation": Workload(llm_ops, llm_setup, check_llm, llm_dedup_counts, warm_passes=3),
}
