#!/usr/bin/env python
"""Full-registry execution sweep — every QUERIES key at one sf dir.

Formalizes the per-round "all keys execute cleanly" check (SURVEY §6):
one shared SparkSession, each key materialized through the noop sink
(full distributed execution, no driver row transfer), per-key wall
time, one JSON summary line on stdout.

Every key runs exactly as the driver grades it.

Usage::

    python tools/registry_sweep.py [--sf DIR] [--keys k1,k2] [--master URL]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--keys", default="", help="comma-separated subset (default: all)")
    ap.add_argument(
        "--master",
        default=None,
        help=(
            "Spark master for the sweep session (default: get_session's "
            "local[*]).  `local-cluster[2,8,4096]` spawns real executor "
            "JVMs with netty shuffle + torrent broadcast over loopback — "
            "the distributed-credibility arm (VERDICT r9 #1): everything "
            "a local master hides (driver-vs-executor filesystem "
            "assumptions, broadcast gates, Python-worker imports on "
            "executors) executes for real."
        ),
    )
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.session import get_session

    keys = [k for k in args.keys.split(",") if k] or list(QUERIES)
    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    extra_confs = None
    if args.master and args.master.startswith("local-cluster"):
        # Executor JVMs spawn their OWN Python workers; the engine
        # package must be importable there (cloudpickled pandas UDFs
        # reference repo modules by name), and the worker JVMs inherit
        # PYSPARK_PYTHON from this process's environment.
        os.environ["PYSPARK_PYTHON"] = sys.executable
        extra_confs = {"spark.executorEnv.PYTHONPATH": repo}
    spark = get_session("dius-sweep", master=args.master, extra_confs=extra_confs)
    if args.master and spark.sparkContext.master != args.master:
        # getOrCreate() silently reuses a live session on a different
        # master — that would grade the WRONG arm
        print(
            f"sweep: FATAL master mismatch: wanted {args.master}, "
            f"session is {spark.sparkContext.master}",
            file=sys.stderr,
        )
        return 2
    print(f"sweep: master={spark.sparkContext.master}", file=sys.stderr)
    # Sacrificial warm-up (VERDICT r15 #5): the FIRST job on a fresh
    # master absorbs one-time costs — executor JVM spin-up on
    # local-cluster arms, Python-worker fork, codegen compiler warm-up
    # — and the r15 cluster arms mis-attributed ~7 s of that to
    # whatever key happened to run first (scan_zorder_pruned read
    # 7.96 s cold vs 0.89 s warm).  One cheap untimed scan retires
    # those costs so every recorded per-key number is a real key cost.
    # Two cheap keys, one per fixture family: scan_parquet (lineitem
    # read path) and evt_tumbling (events timestamp read +
    # window machinery) — the r16 first pass with scan_parquet alone
    # still left ~4 s of events-side cold cost on whatever key graded
    # first.
    for wk in ("scan_parquet", "evt_tumbling"):
        t0 = time.perf_counter()
        try:
            QUERIES[wk](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            print(
                f"sweep: warm-up {wk} {time.perf_counter() - t0:.2f}s "
                "(untimed, absorbs first-job spin-up)",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — the sweep must still
            # map the surface when a warm-up key itself is broken (its
            # graded run below records the error like any other key)
            print(f"sweep: warm-up {wk} failed, continuing: {exc}",
                  file=sys.stderr)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, key in enumerate(keys, 1):
        t0 = time.perf_counter()
        try:
            QUERIES[key](spark, args.sf).write.format("noop").mode("overwrite").save()
            timings[key] = round(time.perf_counter() - t0, 3)
            print(f"sweep [{i}/{len(keys)}] {key} {timings[key]:.2f}s", file=sys.stderr)
        except Exception as exc:  # record and continue — the sweep maps the whole surface
            errors[key] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"sweep [{i}/{len(keys)}] {key} ERROR {errors[key]}", file=sys.stderr)

    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:12]
    payload = {
        "warmup": "scan_parquet + evt_tumbling (untimed first jobs, round 16)",
        "master": spark.sparkContext.master,
        "sf_dir": args.sf,
        "n_keys": len(keys),
        "n_ok": len(timings),
        "n_err": len(errors),
        "total_sec": round(sum(timings.values()), 1),
        "max_key": slowest[0][0] if slowest else None,
        "max_sec": slowest[0][1] if slowest else None,
        "slowest": dict(slowest),
        # full per-key wall times (registry order) — makes per-key
        # cross-master / cross-round comparison possible from the
        # committed artifact alone (the r10 local-vs-cluster analysis
        # needed the stderr log for this)
        "timings": timings,
        "errors": errors,
    }
    print(json.dumps(payload))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
