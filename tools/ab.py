#!/usr/bin/env python
"""Interleaved A/B of DataFrame builders in one SparkSession.

Each arm is ``NAME=module:function``, where the function is a
``(spark, sf_dir) -> DataFrame`` callable: any registry plan, or an
experiment's own twin of one.

1. One warm call per arm, untimed: it builds whatever the arm caches
   and collects the arm's rows, sorted.  Arms whose rows differ end
   the run with exit status 1 before anything is timed.
2. ``--reps`` interleaved reps.  Each rep calls every arm once into the
   noop sink, and every other rep reverses the arm order, so drift in
   the host or the JVM falls on all arms alike.  Each call runs in its
   own job group; its jobs and stages are read from Spark's status
   store (``perfbench/sparkstats.py``).
3. One JSON object on stdout: per arm, the reps, median and best wall
   seconds and the jobs and stages of each call.

Usage::

    python tools/ab.py --sf DIR [--reps 5] [--master URL] \\
        old=pkg.module:old_plan new=pkg.module:new_plan
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.sparkstats import StatusReader  # noqa: E402


def _arm(spec: str):
    """``NAME=module:function`` -> (name, target, callable)."""
    name, _, target = spec.partition("=")
    module, _, func = target.partition(":")
    if not (name and module and func):
        raise SystemExit(f"ab: arm {spec!r} is not NAME=module:function")
    return name, target, getattr(importlib.import_module(module), func)


def _timed_call(spark, stats: StatusReader, group: str, fn, sf_dir: str):
    """Wall seconds of one call of ``fn`` into the noop sink, and the
    jobs it ran (plan-time jobs included), all in job group ``group``."""
    sc = spark.sparkContext
    first = stats.last_job_id()
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, [j for j in stats.jobs_after(first) if j.group == group]


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("arms", nargs="+", metavar="NAME=module:function")
    ap.add_argument("--sf", required=True, help="scale-factor directory")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--master", default=None,
                    help="Spark master (default: get_session's local[N])")
    args = ap.parse_args(argv)
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    arms = [_arm(spec) for spec in args.arms]
    if len({name for name, _, _ in arms}) != len(arms):
        raise SystemExit("ab: arm names must be distinct")

    if spark is None:
        from data_ingest_utils_spark.session import get_session

        extra_confs = None
        if args.master and args.master.startswith("local-cluster"):
            # executor JVMs start their own Python workers, which must
            # import the engine and the arms' modules
            os.environ["PYSPARK_PYTHON"] = sys.executable
            extra_confs = {"spark.executorEnv.PYTHONPATH": REPO}
        spark = get_session("dius-ab", master=args.master, extra_confs=extra_confs)
        if args.master and spark.sparkContext.master != args.master:
            print(f"ab: wanted master {args.master}, session has "
                  f"{spark.sparkContext.master}", file=sys.stderr)
            return 2

    out = {"sf_dir": args.sf, "master": spark.sparkContext.master, "reps": args.reps}
    rows = {
        name: sorted(map(tuple, fn(spark, args.sf).collect()), key=repr)
        for name, _, fn in arms
    }
    out["rows_identical"] = all(r == rows[arms[0][0]] for r in rows.values())
    out["n_rows"] = {name: len(r) for name, r in rows.items()}
    if not out["rows_identical"]:
        print(json.dumps(out))
        return 1

    stats = StatusReader(spark)
    calls: dict[str, list] = {name: [] for name, _, _ in arms}
    for rep in range(args.reps):
        for name, _, fn in arms if rep % 2 == 0 else arms[::-1]:
            wall, jobs = _timed_call(spark, stats, f"ab-{name}-{rep}", fn, args.sf)
            calls[name].append((wall, jobs))
            print(f"ab: rep {rep + 1} {name} {wall:.3f}s {len(jobs)} jobs",
                  file=sys.stderr)
    out["arms"] = {}
    for name, target, _ in arms:
        walls = [w for w, _ in calls[name]]
        out["arms"][name] = {
            "target": target,
            "reps_s": [round(w, 4) for w in walls],
            "median_s": round(statistics.median(walls), 4),
            "best_s": round(min(walls), 4),
            "jobs_per_call": [len(jobs) for _, jobs in calls[name]],
            "stages_per_call": [sum(len(j.stages) for j in jobs)
                                for _, jobs in calls[name]],
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
