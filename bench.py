#!/usr/bin/env python
"""Headline-query benchmark — the driver's per-round perf probe.

Contract (task brief): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query set = the BASELINE.md headline shapes (BASELINE.md:24-32), timed
warm: one shared SparkSession, one un-timed warmup pass (JVM/codegen/
file-listing warmup), then best-of-6 per query (two bursts of 3).
``value`` is the sum of per-query best times — comparable to summing
the BASELINE.md Spark column.  When ``.scale/sf1.0`` exists (generated
by tools/make_scale_data.py), the heaviest shapes (HEAVY_SF1 — 10 since
round 15's ordered funnel) also run at ~sf1.0 and land on the same
line as ``queries_sf1``/``value_sf1``/``sf1`` — per-query MEDIAN of
``SF1_REPEATS`` (default 5) timed passes taken as two key-major
bursts (3+2), with per-query bests in ``queries_sf1_best``.

Round 12 (VERDICT r11 #1): the whole measurement window is NOISE-GATED
— each window carries the control/steal evidence bracket, a window
failing the BASELINE.md gate (steal >= 2% or an unstable control) is
retried after a loaded quiet-window probe (up to BENCH_ATTEMPTS), and
the one JSON line reports the first ACCEPTED window, with every
attempt's evidence under ``noise.attempts`` and the verdict under
``noise.accepted``.
All diagnostics go to stderr; stdout carries exactly the one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

# Queries chosen to mirror BASELINE.md's measured rows, one per shape
# family (agg / join+topk / star join / window / distinct / event-time
# window / vector search / dedup shuffle / session window /
# banded-range-join rewrite / broadcast vocab coverage / bitmap
# distinct-count — the last pairs with agg_count_distinct to show the
# sketch-shuffle alternative at the same answer).
HEADLINE = [
    "agg_hash_group",
    "sort_limit_topk",
    "join_multiway_star",
    "win_topk_per_group",
    "agg_count_distinct",
    "evt_tumbling",
    "llm_sim_topk",
    "llm_dedup_exact",
    "evt_session",
    "join_range_banded",
    "llm_vocab_coverage",
    "agg_bitmap_distinct",
]

# Scale-stress section (VERDICT r5 #5): the heaviest shapes re-run at
# ~sf1.0 (10× key-strided replicas of sf0.1 — tools/make_scale_data.py)
# where shuffle cost dominates planning overhead.  Reported as extra
# fields on the SAME single JSON line (queries_sf1 / value_sf1 / sf1);
# skipped with a stderr note if the scale dir hasn't been generated.
HEAVY_SF1 = [
    "evt_session",
    "join_range_banded",
    "join_multiway_star",
    "llm_segment_dedup",
    "llm_dedup_ngram_banded",
    # hot-key stress (VERDICT r6 #5): ~1.7 M of 6 M fact rows remapped
    # onto ONE join key in-plan, joined via targeted hot-key salting —
    # the pathological-skew class the other shapes can't exercise.
    "join_skew_stress",
    # vector shape (VERDICT r8 #2): blocked embedding-cosine near-dup
    # over the r9 scaled embeddings (20 k vectors, replica-disjoint
    # label blocks) — the pair-join + higher-order-function dot-product
    # stress the relational shapes can't exercise.  Norms pre-attached
    # per side (round 9), so the pair stage is dot-only.
    "llm_embed_near_dup",
    # streaming shape (VERDICT r9 #6): the sweep's most expensive key
    # — a watermarked stream-stream interval join drained availableNow
    # over the staged sf1 events (1 M rows).  Times the micro-batch
    # drain + join-state cost; the result itself is small (~3.4 k
    # rows), so the in-plan memory-sink collect is noise.
    "evt_stream_stream_join",
    # batch ANN shape (round 13): batched binary-quantization serving —
    # one sign-bit encode pass of the 20 k scaled embeddings scores a
    # 3-query batch (XOR+popcount coarse, window top-100/query, exact
    # rerank on Q×100 rows).  The batch-retrieval read path the
    # per-query vector shapes can't exercise.
    "llm_sim_binary_hamming_batch",
    # ordered-sequence shape (round 15): the strictly-ordered funnel
    # (view → click → purchase) — two running-min windows sharing one
    # user-keyed sort, the sequential-state class no plain agg/join
    # shape exercises.  Baseline 0.77 s warm noop (BASELINE.md r15).
    "evt_funnel_steps",
    # funnel-latency shape (round 16): per-transition time-to-convert
    # EXACT percentiles over the same one-shuffle funnel spine — the
    # sorted-digest percentile-aggregation class no other sf1 shape
    # exercises.  Baseline 0.74 s warm noop (BASELINE.md r16).
    "evt_funnel_time_to_convert",
]
# Median-of-5 by default (round 14; was median-of-3 since VERDICT r7
# #1): the documented host CPU-steal noise band (BASELINE.md:97-105,
# same-plan totals vary up to ~3×) means a single sf1 run can land
# anywhere in that band — the round-7 committed artifact caught
# llm_dedup_ngram_banded at 28.5 s when the session's best was 15.8 s.
# Median-of-3 still let ONE noisy rep drag a committed median (r13's
# join_skew_stress landed at 2.11 s inside an otherwise-accepted
# window while SKEWAB_r14 measured its quiet floor at 1.2-1.6 s in
# every ordering); a median-of-5 needs three bad reps, at the cost of
# ~40 s more window per attempt.  The committed ``queries_sf1``
# numbers are per-query MEDIANS across reps; per-query bests ride
# along as ``queries_sf1_best`` so the warm floor stays visible.
SF1_REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_SF1_REPS", "5")))

# Best-of-6, taken as TWO back-to-back bursts of 3 reps per query
# (burst 2 runs after every other query's burst 1).  Within a burst,
# reps stay back-to-back so the min keeps the micro-architectural
# warmth BASELINE.md's warm floor was measured with; sampling two
# separated time windows keeps that min robust to transient system
# noise, which otherwise lands entirely inside one query's
# measurement window (observed r3: join_multiway_star 0.76s vs 1.05s
# across two invocations; observed r4: two identical whole-bench
# invocations differed 12% in total).
REPEATS = 3
BURSTS = 2


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


#: Fixed control shape for the embedded noise evidence (VERDICT r10
#: #1): re-timed once at the very START and once at the very END of
#: the measurement window, so a committed artifact captured in a noisy
#: host window is SELF-diagnosing (first≉last, or both ≫ the shape's
#: documented warm floor) instead of requiring same-HEAD re-run
#: archaeology (bench_r*_runs.jsonl).  agg_hash_group: cheap (~0.1 s
#: warm), plan-stable since round 1, pure scan+agg — it measures the
#: host, not the engine.
CONTROL = "agg_hash_group"


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line —
    the host-CPU-steal counter behind BASELINE.md's run-to-run-noise
    protocol.  None where /proc is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # exclude guest/guest_nice (fields 8+): the kernel folds them
        # into user/nice, so including them double-counts and deflates
        # steal_pct on guest-reporting hosts (ADVICE r11)
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


#: Noise-gate retry dial (VERDICT r11 #1): a measurement window whose
#: own evidence fails the BASELINE.md gate (steal >= 2% or an unstable
#: control bracket) is re-measured up to this many times — "retry the
#: window until it holds" — so the COMMITTED artifact passes the gate
#: whenever any attempt lands in a quiet window, instead of recording
#: whichever window the driver happened to start in (the r9-r11
#: committed headlines were all noise-suspect by this repo's own
#: instrumentation).  Every attempt's evidence is embedded under
#: noise.attempts; the reported numbers come from the first accepted
#: attempt (or, if none passes, the lowest-steal one, flagged
#: accepted=false).
BENCH_ATTEMPTS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
STEAL_GATE_PCT = 2.0


def _spin(stop_t: float) -> None:
    x = 0
    while time.time() < stop_t:
        x += 1


def _loaded_steal_pct(seconds: float = 5.0) -> float | None:
    """Steal percentage UNDER a full-core spin — the measurement of the
    retired host-noise probe (``git show 6d6278f:tools/host_noise_probe.py``)
    inline (this host's steal is
    load-correlated: ~0% idle, 5-22% under load in bad windows, so an
    idle reading says nothing about a bench window)."""
    import multiprocessing as mp

    stop = time.time() + seconds
    procs = [mp.Process(target=_spin, args=(stop,)) for _ in range(os.cpu_count() or 8)]
    j0 = _cpu_jiffies()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    j1 = _cpu_jiffies()
    if not (j0 and j1):
        return None
    return round(100.0 * (j1[0] - j0[0]) / max(1, j1[1] - j0[1]), 2)


def _await_quiet(budget_sec: float = 90.0) -> None:
    """Probe-sleep until a loaded spin sees steal below the gate (or
    the budget runs out) — burning 5 s of spin is far cheaper than
    burning a full measurement attempt in a known-noisy window."""
    deadline = time.time() + budget_sec
    while time.time() < deadline:
        s = _loaded_steal_pct(5.0)
        print(f"bench: quiet-window probe steal={s}%", file=sys.stderr)
        if s is None or s < STEAL_GATE_PCT:
            return
        time.sleep(min(15.0, max(1.0, deadline - time.time())))


def _measure_once(spark, QUERIES, sf_dir: str, sf1_dir: str | None) -> dict:
    """One full measurement window wrapped in the control/steal noise
    bracket; returns {timings, sf1 (or None), noise}."""
    jiff0 = _cpu_jiffies()
    load0 = os.getloadavg()[0]
    t0 = time.perf_counter()
    QUERIES[CONTROL](spark, sf_dir).collect()
    control_first = round(time.perf_counter() - t0, 4)

    best: dict[str, float] = {k: float("inf") for k in HEADLINE}
    for burst in range(BURSTS):
        for key in HEADLINE:
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                QUERIES[key](spark, sf_dir).collect()
                best[key] = min(best[key], time.perf_counter() - t0)
        print(f"bench: burst {burst + 1}/{BURSTS} done", file=sys.stderr)
    timings = {k: round(best[k], 4) for k in HEADLINE}

    sf1 = None
    if sf1_dir:
        sf1_reps: dict[str, list[float]] = {k: [] for k in HEAVY_SF1}
        # Key-major bursts, same protocol as the headline section
        # (round 14): the old rep-major interleave made EVERY rep of a
        # shape run right after the other 8 shapes touched ~2 GB of
        # other tables, so each visit paid a working-set re-warm that
        # is not the shape's cost — measured on join_skew_stress:
        # interleaved reps 1.9-2.5 s in three accepted windows, while
        # back-to-back reps in the SAME session run 1.0-1.3 s and only
        # the first rep after foreign work pays 1.9-2.1 s.  Two
        # separated bursts (3+2 at the default 5 reps) keep the median
        # robust to a drifting window without re-paying the eviction
        # penalty 5× per shape.
        first = (SF1_REPEATS + 1) // 2
        for burst, nreps in enumerate((first, SF1_REPEATS - first)):
            for key in HEAVY_SF1:
                for _ in range(nreps):
                    t0 = time.perf_counter()
                    # noop sink: full distributed materialization
                    # without driver-side row transfer — several sf1
                    # shapes return millions of rows, and .collect()
                    # would time Python pickling instead of the engine
                    # (measured: 4.6 s vs 0.6 s for
                    # join_range_banded's 1.5 M-row result).
                    QUERIES[key](spark, sf1_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    sf1_reps[key].append(time.perf_counter() - t0)
            print(f"bench: sf1 burst {burst + 1}/2 done", file=sys.stderr)
        sf1 = {
            "timings": {
                k: round(statistics.median(sf1_reps[k]), 4) for k in HEAVY_SF1
            },
            "best": {k: round(min(sf1_reps[k]), 4) for k in HEAVY_SF1},
            "reps": sf1_reps,
        }

    # Noise evidence bracket, part 2: the SAME control shape re-timed
    # after everything else, plus the steal-jiffy delta across the
    # whole measurement window.  control_last ≫ control_first (or
    # steal_pct ≫ 0) marks the window noisy; first ≈ last ≈ the
    # shape's documented warm floor certifies a quiet window and makes
    # any remaining inflation real.
    t0 = time.perf_counter()
    QUERIES[CONTROL](spark, sf_dir).collect()
    control_last = round(time.perf_counter() - t0, 4)
    jiff1 = _cpu_jiffies()
    steal_pct = (
        round(100.0 * (jiff1[0] - jiff0[0]) / max(1, jiff1[1] - jiff0[1]), 3)
        if jiff0 and jiff1
        else None
    )
    noise = {
        "control": CONTROL,
        "control_first_s": control_first,
        "control_last_s": control_last,
        "steal_pct": steal_pct,
        "load1_start": round(load0, 2),
        "load1_end": round(os.getloadavg()[0], 2),
    }
    print(
        f"bench: noise evidence — control {control_first:.3f}s → "
        f"{control_last:.3f}s, steal {steal_pct}%",
        file=sys.stderr,
    )
    return {"timings": timings, "sf1": sf1, "noise": noise}


def _window_accepted(noise: dict) -> bool:
    """The BASELINE.md noise gate: steal under 2% across the window
    AND a stable control bracket (neither end >1.67× the other — the
    r11 committed window settled 0.775 s → 0.441 s mid-run, which this
    catches even when the steal counter stays marginal)."""
    s = noise.get("steal_pct")
    if s is not None and s >= STEAL_GATE_PCT:
        return False
    hi = max(noise["control_first_s"], noise["control_last_s"])
    lo = max(1e-9, min(noise["control_first_s"], noise["control_last_s"]))
    return hi / lo <= 1.67 or hi - lo <= 0.12


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.session import get_session

    spark = get_session("dius-bench")
    print(f"bench: sf_dir={sf_dir} master={spark.conf.get('spark.master')}", file=sys.stderr)

    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "sf1.0"),
    )
    if not os.path.isdir(sf1_dir):
        print(
            f"bench: scale dir {sf1_dir} absent — run tools/make_scale_data.py "
            "for the sf1.0 heavy-shape section",
            file=sys.stderr,
        )
        sf1_dir = None

    for key in HEADLINE:  # warmup pass: scan + codegen, un-timed
        QUERIES[key](spark, sf_dir).collect()

    attempts: list[dict] = []
    chosen = None
    for attempt in range(1, BENCH_ATTEMPTS + 1):
        if attempt > 1:
            print(
                f"bench: window {attempt - 1} failed the noise gate — "
                "awaiting a quiet window and re-measuring",
                file=sys.stderr,
            )
            _await_quiet()
        result = _measure_once(spark, QUERIES, sf_dir, sf1_dir)
        attempts.append(result)
        if _window_accepted(result["noise"]):
            chosen = result
            break
    accepted = chosen is not None
    if chosen is None:  # no quiet window: report the least-robbed one
        # explicit None check (ADVICE r12): `or` would treat a genuine
        # 0.0% steal reading as missing and rank that window WORST
        chosen = min(
            attempts,
            key=lambda r: (
                float("inf")
                if r["noise"].get("steal_pct") is None
                else r["noise"]["steal_pct"]
            ),
        )

    timings = chosen["timings"]
    for key in HEADLINE:
        print(f"bench: {key} = {timings[key]:.3f}s", file=sys.stderr)
    payload = {
        "metric": "headline_warm_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        # Self-describing scaling contract (VERDICT r17 #2, additive
        # fields only): the effective master / worker-core count the
        # window ran with, so a lower-core driver probe can verify
        # $SPARK_GRAFT_CPUS took effect from the payload itself
        # (previously stderr-only, which let an overhead-bound sf0.1
        # headline read as "cpus ignored").  defaultParallelism is the
        # ground truth for local[N]; the sf0.1 headline is
        # job-overhead-bound BY DESIGN (~0.2-0.9 s/query on 600 k
        # rows) — core scaling shows in the sf1 section
        # (CORESCALE_r17.json: sf1 ratios 0.79-1.74 at 8 vs 32 cores).
        "master": spark.conf.get("spark.master"),
        "cpus": spark.sparkContext.defaultParallelism,
        "sf1_ratio_hint": "core-scaling is measured by queries_sf1, "
        "not the overhead-bound sf0.1 headline",
    }
    if chosen["sf1"]:
        sf1 = chosen["sf1"]
        for key in HEAVY_SF1:
            reps_s = "/".join(f"{t:.2f}" for t in sf1["reps"][key])
            print(
                f"bench: sf1 {key} = median {sf1['timings'][key]:.3f}s "
                f"best {sf1['best'][key]:.3f}s (reps {reps_s})",
                file=sys.stderr,
            )
        payload["queries_sf1"] = sf1["timings"]
        payload["queries_sf1_best"] = sf1["best"]
        payload["sf1_reps"] = SF1_REPEATS
        payload["value_sf1"] = round(sum(sf1["timings"].values()), 4)
        payload["sf1"] = _sf_from_dir(sf1_dir)

    payload["noise"] = dict(chosen["noise"])
    payload["noise"]["accepted"] = accepted
    payload["noise"]["attempts"] = [a["noise"] for a in attempts]

    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    sys.exit(main())
