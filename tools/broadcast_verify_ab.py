#!/usr/bin/env python
"""Exercise the banded-dedup verify attach on a REAL multi-executor
master (VERDICT r8 #5).

``local-cluster[n,cores,mem]`` spawns separate executor JVMs with
netty shuffle + torrent broadcast over loopback — the closest thing
to a distributed master this sandbox can run (no network needed).
Until round 9 the broadcast arm of ``_resolve_broadcast_verify`` had
only been unit-forced on ``local[*]``; this tool runs BOTH attach
shapes of :func:`ngram_jaccard_banded` under local-cluster and
records, per arm: wall time, the physical join operators of the
executed (post-AQE) plan, and the result row count — plus the
auto-gate's resolution on this master (must be True: distributed and
under the doc ceiling).  Both arms must agree row-for-row.

Usage::

    python tools/broadcast_verify_ab.py [--sf DIR] [--cluster 2,4,4096]
                                        [--out ABCHECK_r09.json]

The JSON artifact lands at the repo root (committed — it is the
evidence the distributed arm executed for real).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time


def _join_nodes(plan: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for node in re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    ):
        counts[node] = counts.get(node, 0) + 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cluster", default="2,4,4096",
                    help="local-cluster spec: executors,cores,mem_mb")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    out_path = args.out or os.path.join(repo, "ABCHECK_r09.json")

    from data_ingest_utils_spark.operators import dedup as dd
    from data_ingest_utils_spark.session import get_session
    from data_ingest_utils_spark.sources.readers import load_table

    master = f"local-cluster[{args.cluster}]"
    spark = get_session("dius-broadcast-ab", master=master)
    docs = load_table(spark, args.sf, "documents")

    resolve = dd._resolve_broadcast_verify
    gate = resolve(docs, "doc_id")
    print(f"auto-gate on {master}: broadcast={gate}", file=sys.stderr)

    result: dict = {
        "master": master,
        "sf_dir": args.sf,
        "auto_gate_broadcast": gate,
        "arms": {},
    }
    rows_by_arm: dict[str, list] = {}
    thresholds = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    # adaptive.autoBroadcastJoinThreshold is unset by default (falls
    # back to the static key) — restore via unset, not set(None)
    defaults = {k: spark.conf.get(k, None) for k in thresholds}
    for arm, flag in (("shuffle", False), ("broadcast", True)):
        # The shuffle arm disables AQE/static auto-broadcast: at
        # fixture scale the per-doc hash-array table compresses under
        # the 10 MB threshold and AQE converts the attaches to
        # broadcast anyway, hiding the contrast — at the 100 TB scale
        # this arm models, hv exceeds any threshold, so -1 is the
        # faithful simulation (the arm's F.broadcast-free plan is
        # what production would execute).  The broadcast arm keeps
        # defaults; its hint forces the build regardless.
        for k in thresholds:
            if not flag:
                spark.conf.set(k, "-1")
            elif defaults[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, defaults[k])
        # force this arm's attach shape past the gate
        dd._resolve_broadcast_verify = lambda *_a, flag=flag: flag
        # one warm pass (scan cache/codegen), then two timed
        df = dd.ngram_jaccard_banded(docs, n=3, threshold=0.5)
        df.write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(2):
            df = dd.ngram_jaccard_banded(docs, n=3, threshold=0.5)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows_by_arm[arm] = sorted(
            (r.doc_a, r.doc_b, r.jaccard) for r in df.collect()
        )
        result["arms"][arm] = {
            "times_sec": times,
            "best_sec": min(times),
            "join_nodes": _join_nodes(plan),
            "n_rows": len(rows_by_arm[arm]),
        }
        print(f"{arm}: {times} s, joins={result['arms'][arm]['join_nodes']}",
              file=sys.stderr)

    dd._resolve_broadcast_verify = resolve
    result["rows_identical"] = rows_by_arm["shuffle"] == rows_by_arm["broadcast"]
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    # NOTE: the shuffle arm may still show BroadcastHashJoin nodes —
    # AQE auto-broadcasts any sub-threshold side (hv is ~8 MB at
    # sf0.1) — so the assertion is on the FORCED broadcast arm and on
    # result identity, not on the shuffle arm's physical choice.
    ok = (
        result["rows_identical"]
        and result["auto_gate_broadcast"]
        and result["arms"]["broadcast"]["join_nodes"].get("BroadcastHashJoin", 0)
        >= 2
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
