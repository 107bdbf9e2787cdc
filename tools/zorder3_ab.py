#!/usr/bin/env python
"""3-column z-order read-benefit A/B (round 16 — evidence for the
``zorder16_nd`` generalization, same method as tools/zorder_prune_ab).

Builds three 16-file layouts of the same lineitem projection and
compares parquet-footer skippability (the same min/max overlap test
the reader runs) for bottom-quarter predicates on EACH clustering
dimension plus the 3-D box:

- ``z3``  — z-ordered on (l_orderkey, l_partkey, l_suppkey);
- ``z2``  — z-ordered on (l_orderkey, l_partkey) — the landed 2-col
  layout, BLIND on l_suppkey;
- ``s1``  — 1-D sorted on l_orderkey — blind on both others.

Decode volume (rows/bytes surviving pruning) is the recorded measure:
wall time at fixture scale is scheduling-bound (ZORDER_AB_r15), but
decode volume scales linearly to 100 TB.  Expected geometry for 16
files: z3 pins ~1 top bit on two dims and ~2 on one (spans ≈ 0.5 /
0.5 / 0.25 + curve slop ⇒ partial pruning on EVERY dim), z2 prunes
its two dims harder (≈ 0.25 each) but decodes 100% on suppkey, s1
prunes only orderkey.  The A/B records where each trade wins.

One-off layouts build under a uuid dir in SCRATCH and are removed at
exit — the shared fingerprint caches the registry keys serve from are
never touched.

Usage::

    python tools/zorder3_ab.py [--sf .scale/sf1.0] [--out ZORDER3_AB_r16.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".scale/sf1.0")
    ap.add_argument("--out", default="ZORDER3_AB_r16.json")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from tools.zorder_prune_ab import footer_stats, skippability
    from data_ingest_utils_spark.plans.cache import SCRATCH
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.session import get_session
    from data_ingest_utils_spark.sources.writers import zorder_write

    spark = get_session("dius-zorder3-ab")
    sf_dir = os.path.join(repo, args.sf) if not os.path.isabs(args.sf) else args.sf
    cols = ("l_orderkey", "l_partkey", "l_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(*cols, "l_extendedprice")

    base = f"{SCRATCH}/zorder3_ab_{uuid.uuid4().hex[:12]}"
    os.makedirs(base, exist_ok=True)
    try:
        layouts = {}
        zorder_write(li, f"{base}/z3", *cols, n_files=16)
        layouts["z3_okey_pkey_skey"] = f"{base}/z3"
        zorder_write(li, f"{base}/z2", "l_orderkey", "l_partkey", n_files=16)
        layouts["z2_okey_pkey"] = f"{base}/z2"
        (
            li.repartitionByRange(16, F.col("l_orderkey"))
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite").parquet(f"{base}/s1")
        )
        layouts["s1_okey"] = f"{base}/s1"

        mo, mp, ms = li.agg(*[F.max(c) for c in cols]).head()
        preds = {
            "orderkey": {"l_orderkey": (0, mo // 4)},
            "partkey": {"l_partkey": (0, mp // 4)},
            "suppkey": {"l_suppkey": (0, ms // 4)},
            "box3": {
                "l_orderkey": (0, mo // 4),
                "l_partkey": (0, mp // 4),
                "l_suppkey": (0, ms // 4),
            },
        }
        footers = {n: footer_stats(p, cols) for n, p in layouts.items()}
        skips = {
            pn: {ln: skippability(f, pred) for ln, f in footers.items()}
            for pn, pred in preds.items()
        }
        # row-preservation sanity: every layout carries every row
        counts = {n: spark.read.parquet(p).count() for n, p in layouts.items()}
    finally:
        shutil.rmtree(base, ignore_errors=True)

    out = {
        "tool": "zorder3_ab",
        "sf_dir": args.sf,
        "n_files": 16,
        "rows": counts,
        "decode_fraction": {
            pn: {ln: s["decode_fraction"] for ln, s in by_layout.items()}
            for pn, by_layout in skips.items()
        },
        "files_skipped": {
            pn: {ln: s["files_skipped"] for ln, s in by_layout.items()}
            for pn, by_layout in skips.items()
        },
        "skippability": skips,
    }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["decode_fraction"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
