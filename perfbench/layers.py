"""Per-layer metrics from the traced passes of one run.

Every value is per pass, the median over the traced passes, except
``process.cpu_s`` (median over the untraced passes), ``session.start_s``
(the one session start), ``plans.cache_build_s`` (median over the
set-ups, plus the caches the first warm pass builds) and the dedup counts,
which come from the untimed checked pass.
"""

from __future__ import annotations

import statistics

from perfbench.sparkstats import stage_intervals, union_s
from perfbench.trace import self_times

READERS = {"sources.load_table", "sources.read_csv", "sources.read_jsonl", "sources.read_back"}
WRITERS = {"sources.write_partitioned", "sources.zorder_write"}

#: name -> unit of every per-layer metric, in report order
UNITS = {
    "plans.jobs": "count", "plans.build_s": "s", "plans.exec_s": "s",
    "plans.cache_build_s": "s",
    "operators.dedup.jobs": "count", "operators.similarity.jobs": "count",
    "operators.relational.jobs": "count",
    "operators.dedup.self_s": "s", "operators.similarity.self_s": "s",
    "operators.text.self_s": "s", "operators.ingest.self_s": "s",
    "operators.relational.self_s": "s", "pipeline.self_s": "s",
    "operators.dedup.candidates": "count", "operators.dedup.confirmed": "count",
    "operators.dedup.verify_yield": "ratio",
    "sources.read_s": "s", "sources.input_mb": "MB", "sources.write_s": "s",
    "sources.output_mb": "MB", "sources.files_written": "count", "sources.write_amp": "ratio",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "spark.sched_gap_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.stages": "count", "spark.tasks": "count", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.python_mb": "MB",
    "spark.exec_mem_mb": "MB",
    "process.cpu_s": "s", "session.start_s": "s",
    "trace.overhead_s": "s", "trace.unaccounted_s": "s",
}


def _pass_metrics(p: dict) -> dict:
    spans = [sp for op in p["per_op"] for sp in op["spans"]]
    selfs = self_times(spans)
    m = {k: 0.0 for k in UNITS}
    for sp in spans:
        layer = sp.layer
        if layer in ("operators.dedup", "operators.similarity", "operators.text",
                     "operators.ingest", "operators.relational", "pipeline"):
            m[f"{layer}.self_s"] += selfs[sp.sid]
        if f"{layer}.jobs" in m:
            m[f"{layer}.jobs"] += len(sp.jobs)
        if layer == "plans":
            m["plans.build_s"] += sp.dur
        elif layer == "plans.exec":
            m["plans.exec_s"] += sp.dur
        elif layer == "op":
            m["trace.unaccounted_s"] += selfs[sp.sid]
        if sp.name in READERS:
            m["sources.read_s"] += sp.dur
        elif sp.name in WRITERS:
            m["sources.write_s"] += sp.dur
        elif sp.name == "streaming.run_available_now":
            m["streaming.drain_s"] += sp.dur
            for k in ("batches", "input_rows", "state_rows"):
                m[f"streaming.{k}"] += sp.extra.get("progress", {}).get(k, 0)
    for op in p["per_op"]:
        if any(sp.layer == "plans" for sp in op["spans"]):
            m["plans.jobs"] += len(op["jobs"])
        m["spark.sched_gap_s"] += op["wall"] - union_s(stage_intervals(op["jobs"]))
    s = p["spark"]
    m.update({
        "sources.input_mb": s["input_mb"], "sources.output_mb": s["output_mb"],
        "sources.files_written": p["files_written"],
        "sources.write_amp": s["output_mb"] / s["input_mb"] if s["input_mb"] else 0.0,
        "spark.executor_run_s": s["run_s"], "spark.gc_s": s["gc_s"],
        "spark.stages": s["stages"], "spark.tasks": s["tasks"],
        "spark.shuffle_read_mb": s["shuffle_read_mb"],
        "spark.shuffle_write_mb": s["shuffle_write_mb"], "spark.spill_mb": s["spill_mb"],
        "spark.python_mb": p["python_mb"], "spark.exec_mem_mb": s["peak_mem_mb"],
    })
    return m


def per_layer(traced: list[dict], untraced: list[dict], session_s: float,
              cache_s: list[float], dedup: dict) -> dict:
    med = statistics.median
    per_pass = [_pass_metrics(p) for p in traced]
    out = {k: med(pm[k] for pm in per_pass) for k in UNITS}
    out["session.start_s"] = session_s
    out["plans.cache_build_s"] = med(cache_s)
    cand, conf = dedup.get("candidates", 0), dedup.get("confirmed", 0)
    out["operators.dedup.candidates"] = cand
    out["operators.dedup.confirmed"] = conf
    out["operators.dedup.verify_yield"] = conf / cand if cand else 0.0
    # CPU of the whole process tree, from the untraced passes of the run
    out["process.cpu_s"] = med(p["cpu_s"] for p in untraced)
    out["trace.overhead_s"] = med(p["run_s"] for p in traced) - med(p["run_s"] for p in untraced)
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
