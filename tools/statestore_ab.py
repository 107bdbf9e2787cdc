#!/usr/bin/env python
"""State-store count A/B on the stateful drain keys: a fixed 8 stores
against the count ``run_available_now`` derives from the source's
bytes (``_state_store_count``).

The arms differ only in the store count: ``fixed_8`` patches the
derivation to return 8, the count every drain latched before it was
derived.  Both keys pick the same trailing no-data batch setting in
both arms (reported per key), so the A/B isolates the store count.
Rows must be identical across arms (asserted; state is
hash-distributed).  Arms alternate rep by rep in one session
(interleaved same-session protocol, BASELINE.md noise doc), each
timed over a whole-key invocation into a noop sink after one
untimed warm-up per arm that also builds the staged-source caches.

Usage::

    python tools/statestore_ab.py [--sf .scale/sf1.0] [--reps 5]
        [--keys evt_stream_stream_join,evt_late_data_metrics]
        [--out STATESTORE_AB_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".scale/sf1.0")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--keys", default="evt_stream_stream_join,evt_late_data_metrics")
    ap.add_argument("--out", default="STATESTORE_AB_sf1.json")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.session import get_session
    from data_ingest_utils_spark.streaming import runner

    spark = get_session("dius-statestore-ab")
    sf_dir = args.sf if os.path.isabs(args.sf) else os.path.join(repo, args.sf)
    keys = [k for k in args.keys.split(",") if k]

    derive = runner._state_store_count
    waits = runner._waits_on_watermark
    picked: dict[str, list] = {}

    def recording_derive(df):
        n = derive(df)
        picked[current].append({"stores": n, "trailing_batch": waits(df, "append")})
        return n

    arms = {"fixed_8": lambda df: 8, "derived": recording_derive}

    def run(arm: str, key: str):
        runner._state_store_count = arms[arm]
        try:
            return QUERIES[key](spark, sf_dir)
        finally:
            runner._state_store_count = derive

    out = {"sf_dir": sf_dir, "reps": args.reps, "spark_master": spark.sparkContext.master,
           "default_parallelism": spark.sparkContext.defaultParallelism, "keys": {}}
    ok = True
    for key in keys:
        current = key
        picked[key] = []
        rows = {arm: sorted(tuple(r) for r in run(arm, key).collect()) for arm in arms}
        times: dict[str, list[float]] = {a: [] for a in arms}
        for rep in range(args.reps):
            for arm in arms:  # interleaved, alternating
                t0 = time.perf_counter()
                run(arm, key).write.format("noop").mode("overwrite").save()
                times[arm].append(time.perf_counter() - t0)
                print(f"ab: {key} rep {rep + 1} {arm} = {times[arm][-1]:.3f}s", file=sys.stderr)
        identical = rows["fixed_8"] == rows["derived"]
        ok &= identical
        out["keys"][key] = {
            "rows_identical": identical,
            "n_rows": len(rows["derived"]),
            "derived_pick": picked[key][0],
            "arms": {
                arm: {
                    "reps_s": [round(t, 4) for t in times[arm]],
                    "median_s": round(statistics.median(times[arm]), 4),
                    "best_s": round(min(times[arm]), 4),
                }
                for arm in arms
            },
        }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps(out))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
