"""Benchmark runner: one closed-loop client, one SparkSession.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 7 --trace 0

A run:

1. generates the workload's inputs from ``--seed`` in a separate
   process (``perfbench/gen.py``) under ``.perfbench/`` in the
   current directory, with fresh scratch, local, warehouse and temp
   directories;
2. starts the session and sets up three times: each set-up wipes the
   scratch directory and Spark's cache and builds the workload's base
   state and derived caches;
3. runs the workload's warm passes over the ops.  The first holds each
   op's first call, so a cache an op builds lazily is built there; its
   outputs are checked against DuckDB or the rows-only invariants,
   untimed.  ``setup_s`` is the session start plus the median set-up
   plus the warm passes;
4. runs whole passes until ``--seconds`` have elapsed, and at least
   three; ``run_s`` is the fastest of them.  With ``--trace 1`` the
   passes alternate untraced and traced, and the per-layer metrics
   come from the traced ones;
5. checks the last window pass's outputs the same way, and every
   window pass's row counts against the checked pass.

The last line of stdout is the result JSON; the line before it holds
the diagnostics (settings, seed, input sizes, host noise).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
MIN_PASSES = 3  # a window's median always spans at least this many passes
WORKLOADS = ("ingest_lake", "llm_curation")


def _cache_s(spans) -> float:
    return sum(sp.dur for sp in spans if sp.layer == "plans.cache")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _ops(ops, p) -> str:
    return " ".join(f"{op.name}={t:.2f}" for op, t in zip(ops, p["lat"]))


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench",
                    help="input size (perfbench/gen.py SIZES); the benchmark uses 'bench'")
    return ap.parse_args()


class Run:
    def __init__(self, args):
        self.args = args
        self.dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                                    dir=os.path.join(ROOT, ".perfbench", "runs"))
        for sub in ("scratch", "local", "warehouse", "tmp", "base", "out"):
            os.makedirs(os.path.join(self.dir, sub))
        self.input = os.path.join(self.dir, "input")
        self.cores = len(os.sched_getaffinity(0))
        self.settings = {
            "master": f"local[{self.cores}]",
            "spark.sql.shuffle.partitions": "32",
            "spark.driver.memory": "8g",
        }
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.spark = None
        self.tracer = None

    # -- environment --------------------------------------------------------
    def isolate(self) -> None:
        """Point every scratch location of the engine, Spark and Python
        into this run's directory, before the engine is imported."""
        tmp = os.path.join(self.dir, "tmp")
        os.environ.update({
            "SPARK_GRAFT_SCRATCH": os.path.join(self.dir, "scratch"),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_GRAFT_DRIVER_MEM": self.settings["spark.driver.memory"],
            "TMPDIR": tmp,
        })
        tempfile.tempdir = tmp

    def generate(self) -> dict:
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--workload",
                        self.args.workload, "--seed", str(self.args.seed),
                        "--size", self.args.size, "--out", self.input],
                       check=True, timeout=600)
        with open(os.path.join(self.input, "manifest.json")) as f:
            return json.load(f)

    def start_session(self):
        from data_ingest_utils_spark.session import get_session

        return get_session(
            app_name="perfbench", master=self.settings["master"],
            shuffle_partitions=int(self.settings["spark.sql.shuffle.partitions"]),
            extra_confs={
                "spark.local.dir": os.path.join(self.dir, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                # JVM temp files into the run directory, and no perf-counter
                # file under the system temp directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            })

    def wipe(self, sub: str) -> None:
        path = os.path.join(self.dir, sub)
        shutil.rmtree(path)
        os.makedirs(path)

    # -- one pass -------------------------------------------------------------
    def run_pass(self, ops, ctx, stats, traced: bool) -> dict:
        """Run every op once, back to back.  Returns the op latencies and
        results and the pass's CPU time; traced, also its spans and its
        Spark job and stage totals."""
        from perfbench import sparkstats as ss

        self.wipe("out")
        tracer = self.tracer
        if tracer is not None:
            tracer.active = traced
        if traced:
            first_job, sql_before = stats.last_job_id(), stats.sql_count()
        cpu0, host0 = ss.tree_cpu_s(), ss.cpu_times()
        lat, results, per_op = [], {}, []
        for i, op in enumerate(ops):
            job0 = stats.last_job_id() if traced else None
            if traced:
                tracer.begin_op(i)
                n_spans = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span(op.name, "op"):
                        results[op.name] = op.run(ctx)
                else:
                    results[op.name] = op.run(ctx)
            except Exception as exc:  # one failed op must not end the run
                self.failures[op.name] = f"{type(exc).__name__}: {exc}"[:500]
                results[op.name] = None
            dt = time.perf_counter() - t0
            lat.append(dt)
            self.attempted += 1
            if traced:
                jobs = stats.jobs_after(job0)
                spans = tracer.spans[n_spans:]
                tracer.attribute(spans, jobs)
                per_op.append({"name": op.name, "wall": dt, "jobs": jobs, "spans": spans})
        cpu = ss.tree_cpu_s() - cpu0
        if tracer is not None:
            tracer.active = False
        out = {"run_s": sum(lat), "lat": lat, "cpu_s": cpu, "results": results,
               "steal_pct": ss.steal_pct(host0, ss.cpu_times())}
        if traced:
            out["spark"] = ss.sum_stages(stats.jobs_after(first_job))
            out["per_op"] = per_op
            out["python_mb"] = stats.python_bytes_after(sql_before) / ss.MB
            out["files_written"] = sum(
                f.startswith("part-") for _, _, fs in os.walk(os.path.join(self.dir, "out"))
                for f in fs)
        return out

    # -- checks ---------------------------------------------------------------
    def check(self, workload, ctx, results: dict, manifest: dict, when: str) -> None:
        import duckdb

        with duckdb.connect() as con:
            verdicts = workload.check(ctx, results, con, manifest)
        for name, why in verdicts.items():
            if why is not None and name not in self.failures:
                self.failures[name] = f"output check ({when}): {why}"[:500]

    # -- main -----------------------------------------------------------------
    def main(self) -> dict:
        from perfbench import sparkstats as ss

        t = time.perf_counter()
        manifest = self.generate()
        log(f"generate: {time.perf_counter() - t:.2f}s")
        self.isolate()
        noise_start = ss.host_noise()
        from perfbench import workloads as wl

        workload = wl.WORKLOADS[self.args.workload]
        ops = workload.ops(self.args.seed, manifest)
        traced_run = bool(self.args.trace)

        # Set up several times, each from empty scratch: the workload's
        # base state and derived caches are rebuilt every time.  Then the
        # warm pass: the first call of every op, which builds whatever an
        # op builds lazily.  setup_s is the session start, the median
        # set-up and the warm pass: all a user pays once per session.
        t0 = time.perf_counter()
        self.spark = self.start_session()
        session_s = time.perf_counter() - t0
        if traced_run:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        ctx = wl.Ctx(self.spark, self.input, os.path.join(self.dir, "base"),
                     os.path.join(self.dir, "out"), self.tracer)
        stats = ss.StatusReader(self.spark)
        setups, cache_s = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.wipe("scratch")
            self.wipe("base")
            self.spark.catalog.clearCache()
            if self.tracer is not None:
                self.tracer.active = True
                n_spans = len(self.tracer.spans)
            workload.setup(ctx)
            setups.append(time.perf_counter() - t0)
            if self.tracer is not None:
                self.tracer.active = False
                cache_s.append(_cache_s(self.tracer.spans[n_spans:]))
            log(f"setup {rep}: {setups[-1]:.2f}s")

        n_spans = len(self.tracer.spans) if self.tracer is not None else 0
        check_pass = self.run_pass(ops, ctx, stats, traced=traced_run)
        if self.tracer is not None:
            cache_s = [c + _cache_s(self.tracer.spans[n_spans:]) for c in cache_s]
        log(f"warm pass: {check_pass['run_s']:.2f}s {_ops(ops, check_pass)}")
        # untimed: the first warm pass is checked, before the next pass
        # replaces what it wrote
        t = time.perf_counter()
        self.check(workload, ctx, check_pass["results"], manifest, "warm pass")
        counts = workload.counts(ctx, check_pass["results"]) if traced_run else {}
        log(f"check: {time.perf_counter() - t:.2f}s")
        warm = [check_pass]
        for _ in range(workload.warm_passes - 1):
            warm.append(self.run_pass(ops, ctx, stats, traced=False))
            log(f"warm pass: {warm[-1]['run_s']:.2f}s {_ops(ops, warm[-1])}")

        passes, traced = [], []
        t_start, cpu_start = time.perf_counter(), ss.cpu_times()
        while True:
            want_trace = traced_run and len(traced) < len(passes)
            p = self.run_pass(ops, ctx, stats, traced=want_trace)
            (traced if want_trace else passes).append(p)
            log(f"pass traced={want_trace}: {p['run_s']:.2f}s cpu {p['cpu_s']:.2f}s {_ops(ops, p)}")
            if time.perf_counter() - t_start >= self.args.seconds and (
                    traced if traced_run else len(passes) >= MIN_PASSES):
                break
        window_s = time.perf_counter() - t_start
        window_steal = ss.steal_pct(cpu_start, ss.cpu_times())
        # untimed: the last pass's outputs are still in place; check them
        # in full, and every other pass's row counts
        self.check(workload, ctx, p["results"], manifest, "window")
        for q in passes + traced:
            for name, pdf in q["results"].items():
                ref = check_pass["results"].get(name)
                if pdf is not None and ref is not None and len(pdf) != len(ref):
                    self.failures.setdefault(name, f"row count {len(pdf)} != {len(ref)} in check pass")
        noise_end = ss.host_noise()

        if traced_run:
            from perfbench.layers import per_layer

            metrics = per_layer(traced, passes, session_s, cache_s, counts)
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            self.tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                          f"{self.args.workload}-s{self.args.seed}.json"))
        else:
            metrics = self.end_to_end(session_s, setups, warm, passes)
        diagnostics = {
            "workload": self.args.workload, "seed": self.args.seed,
            "settings": self.settings, "inputs": manifest,
            "size": self.args.size,
            "setup_reps_s": setups, "session_start_s": session_s,
            "warm_pass_s": [w["run_s"] for w in warm],
            "passes": len(passes), "traced_passes": len(traced),
            "pass_s": [p["run_s"] for p in passes],
            "pass_steal_pct": [p["steal_pct"] for p in passes],
            "traced_pass_s": [p["run_s"] for p in traced],
            "window_s": window_s,
            "host_noise": {"start": noise_start, "end": noise_end,
                           "window_steal_pct": window_steal},
            "dedup_counts": counts,
            "error_rate": len(self.failures) / max(self.attempted, 1),
            "failures": self.failures,
        }
        return {"diagnostics": diagnostics, "metrics": metrics}

    @staticmethod
    def end_to_end(session_s, setups, warm, passes) -> dict:
        med = statistics.median
        return {
            "setup_s": {"value": session_s + med(setups) + sum(w["run_s"] for w in warm),
                        "unit": "s"},
            # The fastest pass: co-tenants of a shared host slow passes in
            # bursts of seconds, and the fastest is the least disturbed.
            "run_s": {"value": min(p["run_s"] for p in passes), "unit": "s"},
        }

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "data_ingest_utils_spark", "__init__.py")):
        print("perfbench: run from the repository root; data_ingest_utils_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench", "runs"), exist_ok=True)
    run = Run(args)
    try:
        out = run.main()
    finally:
        t = time.perf_counter()
        run.close()
        log(f"close: {time.perf_counter() - t:.2f}s")
    print(json.dumps({"diagnostics": out["diagnostics"]}, default=str))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
