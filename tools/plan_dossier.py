#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every bench
headline query at sf0.1, annotated with the scale property each plan
shape is evidence of.  Run after changing any headline operator:

    python tools/plan_dossier.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "agg_hash_group": "partial→final HashAggregate; filter + column "
    "pruning pushed to the parquet scan (PushedFilters/ReadSchema).",
    "sort_limit_topk": "TakeOrderedAndProject — per-partition heaps + "
    "driver merge of k rows; no global sort.",
    "join_multiway_star": "dims broadcast (BroadcastHashJoin), facts "
    "shuffle once on orderkey; date filter at the orders scan.",
    "win_topk_per_group": "WindowGroupLimit prunes to k rows per group "
    "per partition BEFORE the window sort.",
    "agg_count_distinct": "two-phase distinct expand; compare "
    "agg_bitmap_distinct below for the sketch-shuffle alternative.",
    "evt_tumbling": "window() bucketing is a projection — one "
    "aggregation, no self-join.",
    "llm_sim_topk": "brute-force cosine = one scan + "
    "TakeOrderedAndProject; query vector is a literal (no join).",
    "llm_dedup_exact": "hash-groupBy on the dedup key; partial agg "
    "map-side.",
    "evt_session": "session_window aggregation after ONE explicit "
    "shuffle on user_id (exchange reused by the merge phase).",
    "join_range_banded": "band-bucketed equi join — the O(n·m) range "
    "predicate becomes a hash join on (band, key) + residual filter.",
    "llm_vocab_coverage": "top-100 vocab via TakeOrderedAndProject "
    "(per-partition top-k, no single-partition rank window), then "
    "broadcast back onto the token stream.",
    "agg_bitmap_distinct": "two-level bitmap rollup: shuffles one "
    "bitmap per (group, 32768-key bucket), never per-distinct-key "
    "rows; no Expand.",
    "llm_segment_dedup": "narrow line explode + two hash aggs + one "
    "string-keyed shuffle; order restored via array_sort(collect_list) "
    "— no window over the corpus.",
    "llm_dedup_ngram_banded": "SimHash-band candidate pairs (hash-"
    "bucketed self-join, never n²) verified per-pair with "
    "array_intersect on shingle-hash arrays — no exploded "
    "pair×shingle intermediate (round-6 rewrite, 3.5× at sf1.0).",
    "llm_dedup_near_exactverify": "deterministic banded-MinHash "
    "candidates (one hash agg for all 16 permutations) → per-pair "
    "array_intersect exact confirm; oracle-exact at 100% fixture "
    "recall.",
    "join_skew_stress": "targeted hot-key salting: the ONE "
    "pathological key's fact rows spread over 32 salts against a "
    "32-row replicated dim slice; cold keys take the plain shuffled "
    "join; union of the two branches is result-identical to the "
    "unsalted join (driver hash-checked).",
    "llm_embed_near_dup": "label-blocked pair join over embeddings "
    "with per-side pre-attached norms — the pair stage is a dot "
    "product only; no cartesian, no per-pair norm recompute.",
    "evt_stream_stream_join": "NOTE: this key EXECUTES a watermarked "
    "stream-stream interval join (availableNow drain through the "
    "memory sink) inside the plan function; the physical plan below "
    "is only the drained result's LocalTableScan.  The streaming "
    "join plan/state semantics are exercised in "
    "tests/test_streaming.py; the drain cost is benched at sf1 "
    "(BASELINE.md).",
}


def main() -> None:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return
    from bench import HEADLINE, HEAVY_SF1  # noqa: F401 (bench query lists)
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.session import get_session

    spark = get_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    out = [
        "# PLANS — physical-plan dossier for the bench headline queries",
        "",
        "Generated by `tools/plan_dossier.py` (re-run after operator",
        "changes).  Each section: the scale property the plan proves,",
        "then `explain('formatted')` at sf0.1.  The matching assertions",
        "live in `tests/test_explain.py` — this file is the human-",
        "readable evidence; the tests are the regression gate.",
        "",
    ]
    keys = list(HEADLINE) + [k for k in HEAVY_SF1 if k not in HEADLINE] + [
        "llm_dedup_near_exactverify"
    ]
    for key in keys:
        df = QUERIES[key](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        # Strip volatile ids (scratch paths, plan_id) for stable diffs.
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
        plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
        out += [f"## {key}", "", NOTES.get(key, ""), "", "```", plan, "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"PLANS.md written: {len(keys)} plans")


if __name__ == "__main__":
    main()
