#!/usr/bin/env python
"""Rows-only evidence certificate (round 15, VERDICT r14 #1).

The 12 rows-only registry keys (randomized / approximate / engine-
metric operators with no DuckDB twin) are covered by invariant tests
and executed by every sweep, but their DRIVER rows aged badly (7 keys
sat at r05 for nine rounds) and nothing shipped a single artifact
saying "every rows-only key ran THIS round and its semantic contracts
held".  This tool is the rows-only analogue of the parity probe: one
pass over every key in ``QUERIES - ORACLES`` that records, per key,

- both executions' row count + wall time and the result schema;
- **determinism**: the two runs' canonical results compared cell-exact
  (same ``_canon`` as tools/cross_master_value_check.py), with the
  legitimately nondeterministic keys declared in
  ``NONDETERMINISTIC_OK`` rather than silently tolerated;
- **semantic invariants** coded per key: sample-rate bands against
  exact stratum counts, sketch relative error against exact distinct
  counts, pair canonicality + threshold bounds, banded-dedup recall
  against the oracle-certified exact-verify pair set, IVF structural
  contracts + measured recall against the brute-force top-k twin,
  k-means/semdedup cell partitions summing to the corpus, and the
  late-data metric ledger reconciling (held = dropped + unaccounted).

Writes one JSON artifact (default ROWSONLY_r{N}.json) with a header
summary plus per-key detail; exit 1 if any check fails.

Usage::

    python tools/rowsonly_certificate.py [--sf /root/testdata/sf0.01]
        [--out ROWSONLY_r15.json] [--keys k1,k2]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

#: Keys whose two in-session executions may legitimately differ
#: cell-exact.  Empty by design as of round 15: every rows-only key is
#: seeded (sampleBy seed=42, deterministic Lloyd, keyed hashes) or an
#: engine metric pinned by maxFilesPerTrigger — a key that turns out
#: to flap must be ADDED here with a reason, not waved through.
NONDETERMINISTIC_OK: dict[str, str] = {}


def _rel_err(est: float, exact: float) -> float:
    return abs(est - exact) / max(exact, 1.0)


def _pairs_canonical(rows, a: str, b: str) -> dict:
    """Shared pair-table contract: a < b (canonical order, which also
    rules out self-pairs) and no duplicate pair."""
    keys = [(r[a], r[b]) for r in rows]
    return {
        "canonical_a_lt_b": all(x < y for x, y in keys),
        "no_duplicate_pairs": len(keys) == len(set(keys)),
    }


def _topk_contract(rows, k: int, sim_col: str = "sim") -> dict:
    sims = [r[sim_col] for r in rows]
    return {
        "k_rows": len(rows) == k,
        "ids_distinct": len({r["vec_id"] for r in rows}) == len(rows),
        "sims_in_unit_range": all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims),
        "sims_descending": all(sims[i] >= sims[i + 1] for i in range(len(sims) - 1)),
        "query_excluded": all(r["vec_id"] != 0 for r in rows),
    }


def check_sel_sample_stratified(spark, sf_dir, rows, env):
    from pyspark.sql import functions as F

    exact = {
        r["l_returnflag"]: r["n"]
        for r in env["load"](spark, sf_dir, "lineitem")
        .groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    rates = {r["l_returnflag"]: r["n_sampled"] / exact[r["l_returnflag"]]
             for r in rows}
    return {
        "all_strata_present": set(rates) == {"A", "N", "R"},
        "rates_in_band": all(0.07 <= v <= 0.13 for v in rates.values()),
        "rates": {k: round(v, 4) for k, v in sorted(rates.items())},
    }


def check_agg_hll_union(spark, sf_dir, rows, env):
    from pyspark.sql import functions as F

    li = env["load"](spark, sf_dir, "lineitem")
    exact_distinct, exact_rows = li.agg(
        F.countDistinct("l_orderkey"), F.count("*")
    ).head()
    err = _rel_err(rows[0]["est_distinct_orders"], exact_distinct)
    return {
        "n_rows_exact": rows[0]["n_rows"] == exact_rows,
        "estimate_rel_err_lt_5pct": err < 0.05,
        "rel_err": round(err, 5),
    }


def check_agg_approx_count_distinct(spark, sf_dir, rows, env):
    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r["n"]
        for r in env["load"](spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    errs = {r["event_type"]: _rel_err(r["approx_users"], exact[r["event_type"]])
            for r in rows}
    # rsd=0.02 ⇒ 3σ = 6%
    return {
        "all_types_present": set(errs) == set(exact),
        "rel_err_lt_6pct": all(v < 0.06 for v in errs.values()),
        "max_rel_err": round(max(errs.values()), 5),
    }


def check_evt_late_data_metrics(spark, sf_dir, rows, env):
    m = {r["metric"]: r["value"] for r in rows}
    expected = {
        "rows_staged", "rows_late_candidates", "rows_dropped_by_watermark",
        "rows_late_unaccounted", "micro_batches", "windows_emitted",
    }
    n_events = env["load"](spark, sf_dir, "events").count()
    return {
        "metric_set_complete": set(m) == expected,
        "all_non_negative": all(v >= 0 for v in m.values()),
        "staged_equals_fixture": m.get("rows_staged") == n_events,
        "late_ledger_reconciles": (
            m.get("rows_late_candidates")
            == m.get("rows_dropped_by_watermark", 0)
            + m.get("rows_late_unaccounted", 0)
        ),
        "multi_batch_run": m.get("micro_batches", 0) >= 3,
        "watermark_dropped_something": m.get("rows_dropped_by_watermark", 0) > 0,
    }


def check_llm_dedup_near(spark, sf_dir, rows, env):
    out = _pairs_canonical(rows, "doc_a", "doc_b")
    out["distance_under_threshold"] = all(
        r["jaccard_dist"] <= 0.6 + 1e-9 for r in rows
    )
    return out


#: Per-scale recall floors for the banded-SimHash candidate stage,
#: each derived as (measured recall at that scale, SIMHASH8_r16) minus
#: an explicit 0.02–0.035 tolerance (round 17, VERDICT r16 "what's
#: wrong" #1: the single global 0.95 floor sat 1.5 pts under the
#: sf0.1 measurement — stable on frozen fixtures, but any fixture
#: regeneration or corpus-shape drift would trip it spuriously).
#: Measured signatures=2 operating band: 1.0 at sf0.01, 0.9648 at
#: sf0.1, 0.976 at the 50 k-doc sf1.0 bench corpus.  A drop BELOW
#: these floors on this fixture class means the blocking regressed
#: (e.g. a signature silently dropped), not geometry noise — the
#: J-distribution of planted near-dups is fixture-controlled.
NGRAM_BANDED_RECALL_FLOORS = {
    "sf0.001": (1.0, 0.02),   # tiny corpus: exact pair set is small
    "sf0.01": (1.0, 0.02),    # measured 1.0
    "sf0.1": (0.9648, 0.03),  # measured 0.9648
    "sf1.0": (0.976, 0.035),  # measured 0.976 (key-strided replicas)
}
#: Unknown scale → weakest measured point minus its tolerance.
NGRAM_BANDED_RECALL_FLOOR_DEFAULT = 0.9648 - 0.03


def ngram_banded_recall_floor(sf_dir: str) -> float:
    """Resolve the per-scale floor from the sf directory basename."""
    scale = os.path.basename(os.path.normpath(sf_dir))
    if scale in NGRAM_BANDED_RECALL_FLOORS:
        measured, tol = NGRAM_BANDED_RECALL_FLOORS[scale]
        return round(measured - tol, 4)
    return round(NGRAM_BANDED_RECALL_FLOOR_DEFAULT, 4)


def check_llm_dedup_ngram_banded(spark, sf_dir, rows, env):
    out = _pairs_canonical(rows, "doc_a", "doc_b")
    out["jaccard_over_threshold"] = all(r["jaccard"] >= 0.5 - 1e-9 for r in rows)
    # Recall vs the ORACLE-CERTIFIED exact pair set: the
    # llm_dedup_near_exactverify key's driver hash certifies 100%
    # candidate recall vs unblocked all-pairs at the same jaccard>=0.5
    # cut, so its output is a trustworthy exact reference here.
    #
    # The floor is PER-SCALE (NGRAM_BANDED_RECALL_FLOORS above) —
    # measured value minus an explicit tolerance, replacing the r16
    # global 0.95.  The repo's certified-100%-recall rung at this cut
    # remains the deterministic banded-MinHash
    # llm_dedup_near_exactverify ((1-J)^16 miss probability, ~1e-11
    # at J = 0.8).
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in env["queries"]["llm_dedup_near_exactverify"](spark, sf_dir).collect()
    }
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    recall = len(got & exact) / len(exact) if exact else 1.0
    floor = ngram_banded_recall_floor(sf_dir)
    out["recall_vs_exactverify_ge_floor"] = recall >= floor
    out["recall"] = round(recall, 4)
    out["recall_floor"] = floor
    out["n_exact_pairs"] = len(exact)
    return out


def check_llm_sim_pairs_lsh(spark, sf_dir, rows, env):
    out = _pairs_canonical(rows, "vec_a", "vec_b")
    out["cos_sim_over_threshold"] = all(r["cos_sim"] >= 0.3 - 1e-9 for r in rows)
    out["cos_sim_in_unit_range"] = all(r["cos_sim"] <= 1.0 + 1e-9 for r in rows)
    return out


def check_llm_kmeans_cells(spark, sf_dir, rows, env):
    n_vec = env["load"](spark, sf_dir, "embeddings").count()
    return {
        "cells_in_domain": all(0 <= r["cell"] < 8 for r in rows),
        "partition_of_corpus": sum(r["n_vectors"] for r in rows) == n_vec,
        "at_most_k_cells": len(rows) <= 8,
    }


def _ivf_recall(spark, sf_dir, rows, env):
    """Measured recall vs the brute-force twin (llm_sim_topk: same
    query vector, same k) — RECORDED, not asserted against a floor:
    the fixture has no query-aligned cluster structure, so nprobe=2/8
    legitimately misses part of the true top-5 (llm_sim_ivf_pq
    docstring; nprobe-monotone recall is the asserted invariant, in
    tests/test_invariants.py)."""
    exact = {r["vec_id"] for r in env["queries"]["llm_sim_topk"](spark, sf_dir).collect()}
    got = {r["vec_id"] for r in rows}
    return len(got & exact) / len(exact) if exact else 1.0


def check_llm_sim_ivf_kmeans(spark, sf_dir, rows, env):
    out = _topk_contract(rows, k=5)
    out["recall_vs_bruteforce"] = round(_ivf_recall(spark, sf_dir, rows, env), 4)
    return out


def check_llm_sim_ivf_pq(spark, sf_dir, rows, env):
    out = _topk_contract(rows, k=5)
    out["recall_vs_bruteforce"] = round(_ivf_recall(spark, sf_dir, rows, env), 4)
    return out


def check_llm_sim_ivf_pq_batch(spark, sf_dir, rows, env):
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    per_q = {}
    for qid, qrows in sorted(by_q.items()):
        sims = [r["sim"] for r in qrows]
        per_q[qid] = (
            len(qrows) == 5
            and len({r["vec_id"] for r in qrows}) == 5
            and all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)
            and all(sims[i] >= sims[i + 1] for i in range(len(sims) - 1))
            and all(r["vec_id"] not in (0, 1, 2) for r in qrows)
        )
    return {
        "three_queries": set(by_q) == {0, 1, 2},
        "per_query_topk_contract": all(per_q.values()),
        "per_query_detail": {str(k): v for k, v in per_q.items()},
    }


def check_llm_semdedup(spark, sf_dir, rows, env):
    n_vec = env["load"](spark, sf_dir, "embeddings").count()
    return {
        "cells_in_domain": all(0 <= r["cell"] < 8 for r in rows),
        "partition_of_corpus": sum(r["n_vectors"] for r in rows) == n_vec,
        "kept_bounded": all(1 <= r["n_kept"] <= r["n_vectors"] for r in rows),
        # informational: the raw fixture may genuinely contain zero
        # cos>=0.95 pairs (it does at sf0.01) — drop behavior on
        # planted duplicates is certified in tests/test_invariants.py
        "n_dropped": n_vec - sum(r["n_kept"] for r in rows),
    }


CHECKS = {
    "sel_sample_stratified": check_sel_sample_stratified,
    "agg_hll_union": check_agg_hll_union,
    "agg_approx_count_distinct": check_agg_approx_count_distinct,
    "evt_late_data_metrics": check_evt_late_data_metrics,
    "llm_dedup_near": check_llm_dedup_near,
    "llm_dedup_ngram_banded": check_llm_dedup_ngram_banded,
    "llm_sim_pairs_lsh": check_llm_sim_pairs_lsh,
    "llm_kmeans_cells": check_llm_kmeans_cells,
    "llm_sim_ivf_kmeans": check_llm_sim_ivf_kmeans,
    "llm_sim_ivf_pq": check_llm_sim_ivf_pq,
    "llm_sim_ivf_pq_batch": check_llm_sim_ivf_pq_batch,
    "llm_semdedup": check_llm_semdedup,
}

#: Check names that carry a measured VALUE rather than a pass/fail —
#: excluded from the failure scan.
_INFORMATIONAL = {"rates", "rel_err", "max_rel_err", "recall", "n_exact_pairs",
                  "recall_floor", "recall_vs_bruteforce", "per_query_detail",
                  "n_dropped"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="ROWSONLY_r15.json")
    ap.add_argument("--keys", default="")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.cross_master_value_check import _canon

    from data_ingest_utils_spark.plans import ORACLES, QUERIES
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.session import get_session

    rows_only = [k for k in QUERIES if k not in ORACLES]
    keys = [k for k in args.keys.split(",") if k] or rows_only
    unknown = [k for k in keys if k not in CHECKS]
    if unknown:
        print(f"rows-only keys with NO check coded: {unknown}", file=sys.stderr)
        return 2

    spark = get_session("dius-rowsonly-cert")
    env = {"load": load_table, "queries": QUERIES}
    detail: dict[str, dict] = {}
    failed: list[str] = []
    for i, key in enumerate(keys, 1):
        entry: dict = {}
        try:
            runs = []
            collected = []
            for _ in range(2):
                t0 = time.monotonic()
                df = QUERIES[key](spark, args.sf)
                rows = df.collect()
                runs.append(round(time.monotonic() - t0, 3))
                collected.append(rows)
            entry["n_rows"] = len(collected[0])
            entry["schema"] = df.schema.simpleString()
            entry["elapsed_s"] = runs
            det = _canon(collected[0]) == _canon(collected[1])
            entry["deterministic"] = det
            # digest of the canonical rows, comparable across runs
            entry["rows_sha256"] = hashlib.sha256(
                repr(_canon(collected[0])).encode()
            ).hexdigest()[:16]
            if not det and key not in NONDETERMINISTIC_OK:
                failed.append(f"{key}.deterministic")
            checks = CHECKS[key](spark, args.sf, collected[0], env)
            entry["checks"] = checks
            failed.extend(
                f"{key}.{name}" for name, v in checks.items()
                if name not in _INFORMATIONAL and v is not True
            )
        except Exception as e:
            entry["error"] = f"{type(e).__name__}: {e}"[:300]
            failed.append(f"{key}.EXECUTES")
        detail[key] = entry
        print(f"[{i}/{len(keys)}] {key} "
              f"{'FAIL' if any(f.startswith(key + chr(46)) for f in failed) else 'ok'}",
              file=sys.stderr)

    out = {
        "tool": "rowsonly_certificate",
        "sf_dir": args.sf,
        "n_keys": len(keys),
        "n_ok": len(keys) - len({f.split(".")[0] for f in failed}),
        "failed_checks": failed,
        "nondeterministic_ok": NONDETERMINISTIC_OK,
        "detail": detail,
    }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("n_keys", "n_ok", "failed_checks")}))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
