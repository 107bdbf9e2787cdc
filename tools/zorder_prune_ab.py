#!/usr/bin/env python
"""Z-order read-time pruning A/B (round 15, VERDICT r14 #3).

The round-14 footer-span certificate proved the z-layout's per-file
min/max spans are bounded on BOTH clustering columns; this tool
measures what that property actually BUYS at read time, against a
1-D-sorted twin of the same table at the same file count:

- **Skippability from real parquet footers**: for each predicate, how
  many files and row-groups the min/max statistics allow the reader to
  skip (the same overlap test Spark's parquet filter pushdown runs).
- **Warm wall time**: the timed aggregate over each layout, median of
  ``--reps`` back-to-back runs (key-major protocol, matching how every
  other number in BASELINE.md is measured).

Three predicate shapes, one per pruning regime:

- ``box``      — bottom quarter of BOTH key domains (the
  sink_zorder_cluster oracle predicate): z prunes on both columns.
- ``partkey``  — bottom quarter of l_partkey only: the 1-D
  orderkey-sorted layout is BLIND here (its per-file partkey spans are
  ~the full domain), the z-layout still prunes — this is the case
  multi-dimensional clustering exists for.
- ``orderkey`` — bottom quarter of l_orderkey only: the 1-D layout's
  home game (contiguous sort ⇒ ~1/4 of files overlap); the z-layout
  pays its ~sqrt spreading here.  Reported so the trade is honest.

Writes ZORDER_AB_r{N}.json; the BASELINE.md round-15 block carries the
summary table.  Both layouts are derived caches (plans/cache.py); the
z-layout is the one sink_zorder_cluster serves from.  ``build_secs``
is the time to obtain each layout (near zero on a cache hit).

Usage::

    python tools/zorder_prune_ab.py [--sf .scale/sf1.0] [--reps 5]
        [--out ZORDER_AB_r15.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time


def footer_stats(path: str, cols: tuple[str, str]):
    """Per-file and per-row-group (min, max) for the two clustering
    columns, straight from the parquet footers."""
    import pyarrow.parquet as pq

    files = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        if md.num_row_groups == 0:
            continue
        rgs = []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            mm = {"_rows": row.num_rows, "_bytes": row.total_byte_size}
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema in cols:
                    s = col.statistics
                    assert s is not None and s.has_min_max, (f, col.path_in_schema)
                    mm[col.path_in_schema] = (s.min, s.max)
            rgs.append(mm)
        files.append({"file": os.path.basename(f), "row_groups": rgs})
    return files


def skippability(files, pred: dict[str, tuple]) -> dict:
    """files/row-groups the min/max stats allow the reader to SKIP for
    a conjunction of per-column closed ranges {col: (lo, hi)} — the
    same overlap test parquet filter pushdown runs."""

    def overlaps(mm) -> bool:
        for c, (lo, hi) in pred.items():
            cmin, cmax = mm[c]
            if cmax < lo or cmin > hi:
                return False
        return True

    n_rg = sum(len(f["row_groups"]) for f in files)
    rg_hit = sum(1 for f in files for mm in f["row_groups"] if overlaps(mm))
    file_hit = sum(
        1 for f in files if any(overlaps(mm) for mm in f["row_groups"])
    )
    rows_total = sum(mm["_rows"] for f in files for mm in f["row_groups"])
    rows_decode = sum(
        mm["_rows"] for f in files for mm in f["row_groups"] if overlaps(mm)
    )
    bytes_total = sum(mm["_bytes"] for f in files for mm in f["row_groups"])
    bytes_decode = sum(
        mm["_bytes"] for f in files for mm in f["row_groups"] if overlaps(mm)
    )
    return {
        "files_total": len(files),
        "files_skipped": len(files) - file_hit,
        "row_groups_total": n_rg,
        "row_groups_skipped": n_rg - rg_hit,
        # the scale-relevant measure: the data volume a reader must
        # decode after min/max pruning — wall time at fixture scale is
        # scheduling-bound, but decode volume scales linearly to 100 TB
        "rows_must_decode": rows_decode,
        "rows_total": rows_total,
        "decode_fraction": round(rows_decode / rows_total, 4),
        "bytes_must_decode": bytes_decode,
        "bytes_total": bytes_total,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".scale/sf1.0")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default="ZORDER_AB_r15.json")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from data_ingest_utils_spark.plans.cache import cache_path, derived_cache
    from data_ingest_utils_spark.plans.scans import ZORDER_CACHE, _ensure_zorder_fixture
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.session import get_session

    spark = get_session("dius-zorder-ab")
    sf_dir = os.path.join(repo, args.sf) if not os.path.isabs(args.sf) else args.sf
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )

    def sorted_1d(out: str) -> None:
        (
            li.repartitionByRange(16, F.col("l_orderkey"))
            .sortWithinPartitions("l_orderkey")
            .write.parquet(out)
        )

    # The z-layout is OWNED by _ensure_zorder_fixture (the cache
    # sink_zorder_cluster / scan_zorder_pruned serve from), so a recipe
    # change can never promote a divergent layout into its path.  Only
    # the 1-D twin, which no registry key reads, is built here.
    build_secs = {}
    t0 = time.monotonic()
    _ensure_zorder_fixture(spark, sf_dir)
    zpath = cache_path(sf_dir, "lineitem", ZORDER_CACHE)
    build_secs[os.path.basename(zpath)] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    opath = derived_cache(sf_dir, "lineitem", "sorted1d_lineitem_f16", sorted_1d)
    build_secs[os.path.basename(opath)] = round(time.monotonic() - t0, 2)

    cols = ("l_orderkey", "l_partkey")
    mo, mp = li.agg(F.max("l_orderkey"), F.max("l_partkey")).head()
    bo, bp = mo // 4, mp // 4  # bottom quarter of each domain
    preds = {
        "box": {"l_orderkey": (0, bo), "l_partkey": (0, bp)},
        "partkey": {"l_partkey": (0, bp)},
        "orderkey": {"l_orderkey": (0, bo)},
    }

    layouts = {"zorder": zpath, "sorted_1d_orderkey": opath}
    footers = {name: footer_stats(path, cols) for name, path in layouts.items()}

    result: dict = {"skippability": {}, "timing_s": {}}
    for pname, pred in preds.items():
        result["skippability"][pname] = {
            lname: skippability(f, pred) for lname, f in footers.items()
        }

    def timed(path, pred):
        df = spark.read.parquet(path)
        cond = None
        for c, (lo, hi) in pred.items():
            piece = (F.col(c) >= lo) & (F.col(c) <= hi)
            cond = piece if cond is None else cond & piece
        reps = []
        for _ in range(args.reps):
            t0 = time.monotonic()
            df.filter(cond).agg(
                F.count("*"), F.sum("l_extendedprice")
            ).collect()
            reps.append(time.monotonic() - t0)
        return reps

    for pname, pred in preds.items():
        for lname, path in layouts.items():
            timed(path, pred)  # one warm-up pass, not recorded
            reps = timed(path, pred)
            result["timing_s"][f"{pname}/{lname}"] = {
                "median": round(statistics.median(reps), 4),
                "reps": [round(r, 4) for r in reps],
            }

    rows_z = spark.read.parquet(zpath).count()
    rows_o = spark.read.parquet(opath).count()
    out = {
        "tool": "zorder_prune_ab",
        "sf_dir": args.sf,
        "n_files": 16,
        "rows": {"zorder": rows_z, "sorted_1d": rows_o},
        "predicates": {k: {c: list(v) for c, v in p.items()}
                       for k, p in preds.items()},
        "cache_build_s": build_secs,
        **result,
    }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({
        "skippability": {
            p: {l: f"{s['row_groups_skipped']}/{s['row_groups_total']} rg, "
                   f"{s['files_skipped']}/{s['files_total']} files, "
                   f"decode {s['decode_fraction']:.0%}"
                for l, s in d.items()}
            for p, d in result["skippability"].items()
        },
        "timing_median_s": {k: v["median"] for k, v in result["timing_s"].items()},
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
