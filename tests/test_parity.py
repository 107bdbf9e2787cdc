"""The t2 gate, run locally: every declared key at sf0.01 against its
DuckDB oracle (exact replica of the driver's comparison, with richer
diagnostics); rows-only keys must at least execute and return a stable
schema.
"""

from __future__ import annotations

import pytest

from data_ingest_utils_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_T2
from tests.parity import assert_parity

ORACLE_KEYS = sorted(k for k in QUERIES if k in ORACLES)
ROWS_ONLY_KEYS = sorted(k for k in QUERIES if k not in ORACLES)


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(key, spark, duck):
    sdf = QUERIES[key](spark, SF_T2)
    _assert_atomic_schema(key, sdf)
    spark_pdf = sdf.toPandas()
    oracle_pdf = duck.execute(ORACLES[key]).fetchdf()
    assert_parity(spark_pdf, oracle_pdf, key)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_executes(key, spark):
    sdf = QUERIES[key](spark, SF_T2)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema.fields) > 0
    _assert_atomic_schema(key, sdf)


#: Keys allowed to expose a non-atomic top-level column, each with the
#: canonicalization rule that makes the driver's pandas sort safe.
#: Empty on purpose: the round-5 llm_multimodal_features failure showed
#: an array<double> column crashes the driver's rows-only canonicalizer
#: (pandas factorize over ndarrays) — whitelist only with a written rule.
NON_ATOMIC_WHITELIST: dict[str, str] = {}

_NON_ATOMIC = ("array", "map", "struct")


def _assert_atomic_schema(key, sdf):
    if key in NON_ATOMIC_WHITELIST:
        return
    bad = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if f.dataType.simpleString().startswith(_NON_ATOMIC)
    ]
    assert not bad, (
        f"{key}: non-atomic top-level columns {bad} would crash the driver's "
        "canonicalizer (pandas sort_values over unhashable cells) — project "
        "to scalars (per-dim round / to_json) or whitelist with a rule"
    )

def _driver_rows():
    """Merge ALL committed CORRECTNESS artifacts, later rounds winning
    (globbed + sorted, not a hardcoded round range — artifacts beyond
    any fixed horizon must not be silently ignored)."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    merged: dict[str, dict] = {}
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        merged.update(json.loads(f.read_text()))
    return merged


def test_correctness_window_shape():
    """The driver grades only the first 50 entries of
    ``__spark_entry__.queries()`` per round; the current window fronts
    never-hash-graded oracle keys, then the longest-ungraded greens as
    re-certification, with rows-only keys parked at the tail (weakest
    signal lost first on truncation)."""
    import __spark_entry__ as entry

    first50 = list(entry.queries())[:50]
    assert first50 == entry.WINDOW
    assert len(entry.WINDOW) == 50
    assert list(entry.oracle_sql()) == [
        k for k in entry.queries() if k in ORACLES
    ]
    # Oracle-backed keys precede every rows-only key so a truncated run
    # loses the weaker signal first — EXCEPT never-graded rows-only
    # keys, which front once so every registry key accrues at least one
    # driver row (round-13 policy, VERDICT r12 #1).
    rows = _driver_rows()
    never_graded = {k for k in first50 if k not in ORACLES and k not in rows}
    oracle_flags = [k in ORACLES for k in first50 if k not in never_graded]
    assert oracle_flags == sorted(oracle_flags, reverse=True)
    # And the exception is tight: any never-graded key in the window
    # must sit in the fronted region, not scattered through backfill.
    for k in never_graded:
        assert first50.index(k) < 10 + len(never_graded), (
            f"never-graded key {k} not fronted"
        )


def test_window_fronts_every_stale_hash_signal():
    """Self-maintaining window rule: every oracle-backed registry key
    that has never produced a hash-green driver row (new key, prior
    failure, or oracle added after its last driver row) must sit in
    the first 10 window positions — graded the round it lands.
    Round-agnostic: merges every committed CORRECTNESS artifact."""
    import __spark_entry__ as entry

    rows = _driver_rows()
    if not rows:
        pytest.skip("driver CORRECTNESS artifacts not present")
    stale = {
        k for k in ORACLES
        if not (rows.get(k) or {}).get("hash_match")
    }
    front = set(entry.WINDOW[:10])
    assert stale <= front, f"stale-signal keys not fronted: {sorted(stale - front)}"


def test_window_derivation_policy():
    """derive_window is a pure function of (registry, history): stale
    oracle keys front in registry order, declared output-changed keys
    follow, and backfill is oldest-green-first — exercised on a
    synthetic history so the policy itself is pinned, not just this
    round's instance of it."""
    from driver_window import derive_window

    queries = {k: None for k in ["a", "b", "c", "d", "e", "f"]}
    oracles = {k: "sql" for k in ["a", "b", "c", "d", "e"]}  # f rows-only
    history = {
        "a": {"round": 3, "hash_match": True, "green_round": 3},
        "b": {"round": 5, "hash_match": False, "green_round": 2},  # regressed
        "c": {"round": 6, "hash_match": True, "green_round": 6},
        "d": {"round": 2, "hash_match": True, "green_round": 2},
        # e: never graded -> stale
        "f": {"round": 4, "hash_match": False, "green_round": None},
    }
    w = derive_window(queries, oracles, history=history,
                      output_changed=[("c", 7)], size=5)
    # stale (b regressed, e never graded) in registry order, then the
    # declared output-changed c (green r6 < declared r7 -> fronts),
    # then greens oldest-first (d r2) — and the TAIL slot rotates the
    # stalest rows-only driver row (f, r4) back through the driver
    # (round-14 policy, VERDICT r13 #1), displacing the newest
    # backfill green (a), never the fronted signal.
    assert w == ["b", "e", "c", "d", "f"]
    # A rows-only key with NO driver row at all fronts once (round-13
    # policy): g has no history entry, so it lands right after the
    # stale oracle front and before the output-changed/backfill keys.
    queries_g = {**queries, "g": None}
    wg = derive_window(queries_g, oracles, history=history,
                       output_changed=[("c", 7)], size=5)
    # Only ONE backfill green (d) fits after the 4-key front — the
    # rotation tail stands down rather than displace the oldest green
    # (code-review r14), so d keeps its slot and f waits.
    assert wg == ["b", "e", "g", "c", "d"]
    # …and self-prunes: one driver row of any verdict removes it from
    # the fronted class — after which it competes for the ROTATION
    # tail, where the OLDEST driver row wins (f r4 beats g r7).
    hist_g = {**history,
              "g": {"round": 7, "hash_match": False, "green_round": None}}
    wg2 = derive_window(queries_g, oracles, history=hist_g,
                        output_changed=[("c", 7)], size=5)
    assert "g" not in wg2
    assert wg2 == ["b", "e", "c", "d", "f"]
    # One window slot per key (code-review r13): a key declared
    # output-changed in two rounds, or stale AND output-changed, must
    # not occupy two slots.
    wd = derive_window(queries, oracles, history=history,
                       output_changed=[("c", 7), ("c", 8), ("b", 7)], size=5)
    assert len(wd) == len(set(wd)), wd
    assert wd == ["b", "e", "c", "d", "f"]
    # self-pruning: once c is hash-green AT/after its declaration
    # round, the entry stops fronting and c rejoins the backfill
    # (newest green, so it is the key the rotation tail displaces).
    history["c"] = {"round": 7, "hash_match": True, "green_round": 7}
    w2 = derive_window(queries, oracles, history=history,
                       output_changed=[("c", 7)], size=5)
    assert w2 == ["b", "e", "d", "a", "f"]
    # The rotation never displaces FRONTED signal: with the window
    # entirely consumed by stale keys, no rows-only swap happens.
    wf = derive_window(queries, oracles, history=history,
                       output_changed=[("c", 7)], size=2)
    assert wf == ["b", "e"]


def test_window_rotation_tail_multi_slot():
    """Round-16 policy (VERDICT r15 #2, widening r14 #1): the rotation
    tail holds up to FOUR rows-only keys — stalest driver row first —
    displacing the NEWEST backfill greens, never the oldest green and
    never fronted signal.  At one slot/round the 12-key rows-only
    class refreshed every ~12 rounds; four slots bound it at ~3."""
    from driver_window import derive_window

    queries = {k: None for k in
               ["g1", "g2", "g3", "g4", "g5", "g6",
                "r1", "r2", "r3", "r4", "r5"]}
    oracles = {k: "sql" for k in ["g1", "g2", "g3", "g4", "g5", "g6"]}
    history = {
        "g1": {"round": 2, "hash_match": True, "green_round": 2},
        "g2": {"round": 3, "hash_match": True, "green_round": 3},
        "g3": {"round": 4, "hash_match": True, "green_round": 4},
        "g4": {"round": 5, "hash_match": True, "green_round": 5},
        "g5": {"round": 6, "hash_match": True, "green_round": 6},
        "g6": {"round": 7, "hash_match": True, "green_round": 7},
        "r1": {"round": 9, "hash_match": False, "green_round": None},
        "r2": {"round": 7, "hash_match": False, "green_round": None},
        "r3": {"round": 8, "hash_match": False, "green_round": None},
        "r4": {"round": 6, "hash_match": False, "green_round": None},
        "r5": {"round": 10, "hash_match": False, "green_round": None},
    }
    # No fronted signal, 6 backfill greens, 5 rotation candidates:
    # 4 tail slots (the base cap), stalest first (r4 r6 < r2 r7 <
    # r3 r8 < r1 r9), displacing the newest greens (g3..g6) — g1/g2
    # (oldest, most-owed re-certification) keep their slots.
    w = derive_window(queries, oracles, history=history,
                      output_changed=[], rowsonly_output_changed=[],
                      size=6)
    assert w == ["g1", "g2", "r4", "r2", "r3", "r1"]
    # The at-least-one-green floor binds before the cap: with only two
    # backfill slots available, a single tail slot is granted.
    w2 = derive_window(queries, oracles, history=history,
                       output_changed=[("g1", 9), ("g2", 9), ("g3", 9),
                                       ("g4", 9)],
                       rowsonly_output_changed=[], size=6)
    assert w2 == ["g1", "g2", "g3", "g4", "g5", "r4"]
    # ROWSONLY_OUTPUT_CHANGED (round 16): a declared rows-only key
    # (r5, newest driver row — last in staleness order) sorts FIRST
    # in the rotation and grants one EXTRA tail slot, so the re-grade
    # does not consume a staleness-cadence slot: 5 tail slots cover
    # r5 + all four aged keys, floor green g1 stands.
    w3 = derive_window(queries, oracles, history=history,
                       output_changed=[],
                       rowsonly_output_changed=[("r5", 11)], size=6)
    assert w3 == ["g1", "r5", "r4", "r2", "r3", "r1"]
    # …and self-prunes on ANY driver row at/after the declared round.
    hist2 = {**history,
             "r5": {"round": 11, "hash_match": False, "green_round": None}}
    w4 = derive_window(queries, oracles, history=hist2,
                       output_changed=[],
                       rowsonly_output_changed=[("r5", 11)], size=6)
    assert w4 == ["g1", "g2", "r4", "r2", "r3", "r1"]


def test_window_output_changed_consumed():
    """Every OUTPUT_CHANGED key actually exists in the registry, and
    every NOT-yet-repruned entry (no hash-green at/after its declared
    round) sits in the fronted region — a typo'd key would otherwise
    be silently dropped by the derivation."""
    import __spark_entry__ as entry
    from driver_window import OUTPUT_CHANGED, load_driver_history

    missing = [k for k, _ in OUTPUT_CHANGED if k not in QUERIES]
    assert not missing, f"OUTPUT_CHANGED keys not in registry: {missing}"
    history = load_driver_history()
    pending = [
        k for k, declared in OUTPUT_CHANGED
        if ((history.get(k) or {}).get("green_round") or -1) < declared
    ]
    front = entry.WINDOW[:10 + len(pending)]
    not_fronted = [k for k in pending if k not in front]
    assert not not_fronted, f"output-changed keys not fronted: {not_fronted}"


def test_plans_import_reads_no_driver_artifacts():
    """Importing the engine's plans opens no driver CORRECTNESS artifact
    (the window is ``__spark_entry__``'s concern alone) and leaves
    ``QUERIES`` in registration order: the plan modules in the order
    ``plans/__init__.py`` imports them, each in source-line order.
    Checked in a fresh interpreter under an audit hook, so no earlier
    import in this process can hide a read."""
    import ast
    import json
    import subprocess
    import sys
    from pathlib import Path

    from data_ingest_utils_spark import plans

    code = (
        "import json, sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and 'CORRECTNESS_r' in str(args[0]):\n"
        "        opened.append(str(args[0]))\n"
        "sys.addaudithook(hook)\n"
        "from data_ingest_utils_spark.plans import QUERIES\n"
        "print(json.dumps({'opened': opened, 'keys': list(QUERIES)}))\n"
    )
    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, timeout=120, check=True,
    )
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert seen["opened"] == []

    tree = ast.parse(Path(plans.__file__).read_text())
    modules = [
        f"{node.module}.{alias.name}"
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.module == plans.__name__
        for alias in node.names
    ]

    def origin(key):
        fn = QUERIES[key]
        return modules.index(fn.__module__), fn.__code__.co_firstlineno

    assert seen["keys"] == sorted(QUERIES, key=origin)


def test_probe_oracles_are_wellformed():
    """Every layout-aware probe oracle (round 13): belongs to an
    oracle-backed key (it's a stricter twin, not a replacement), uses
    only {<table>_path} holes, and renders to runnable SQL at the t2
    fixture — so the matched-scale probe can never KeyError mid-run."""
    from data_ingest_utils_spark.plans.registry import PROBE_ORACLES

    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    paths = {f"{t}_path": f"{SF_T2}/{t}.parquet" for t in tables}
    assert PROBE_ORACLES, "round-13 probe oracle missing"
    for key, tmpl in PROBE_ORACLES.items():
        assert key in ORACLES, f"{key}: probe oracle without driver oracle"
        sql = tmpl.format(**paths)  # KeyError here = undeclared hole
        assert "{" not in sql.replace("{}", ""), f"{key}: unfilled hole"


def test_probe_oracle_matches_at_t2(spark, duck):
    """At the single-file t2 fixture the layout-aware twin must agree
    with the engine result — the same comparison the probe runs,
    pinned in the suite so the twin can't drift from the plan."""
    from data_ingest_utils_spark.plans.registry import PROBE_ORACLES

    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    paths = {f"{t}_path": f"{SF_T2}/{t}.parquet" for t in tables}
    for key, tmpl in PROBE_ORACLES.items():
        spark_pdf = QUERIES[key](spark, SF_T2).toPandas()
        oracle_pdf = duck.execute(tmpl.format(**paths)).fetchdf()
        assert_parity(spark_pdf, oracle_pdf, f"{key}[probe_oracle]")
