"""tools/ab.py, the one interleaved A/B harness, on the test session."""

from __future__ import annotations

import json

from tests.conftest import SF_SMOKE
from tools.ab import main

AGG = "data_ingest_utils_spark.plans.aggregates:agg_hash_group"


def test_ab_identical_arms_report_every_field(spark, capsys):
    """Two arms with the same rows exit 0 and report, per arm, the
    reps, median, best, and the jobs and stages of every call."""
    rc = main(["--sf", SF_SMOKE, "--reps", "2", f"a={AGG}", f"b={AGG}"],
              spark=spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["rows_identical"] is True
    assert out["n_rows"]["a"] == out["n_rows"]["b"] > 0
    assert out["reps"] == 2 and out["sf_dir"] == SF_SMOKE
    assert out["master"] == spark.sparkContext.master
    for name in ("a", "b"):
        arm = out["arms"][name]
        assert arm["target"] == AGG
        assert len(arm["reps_s"]) == 2
        assert arm["best_s"] == min(arm["reps_s"]) <= arm["median_s"]
        # every call runs at least the noop write's job, in its own group
        assert len(arm["jobs_per_call"]) == 2
        assert all(n >= 1 for n in arm["jobs_per_call"])
        assert len(arm["stages_per_call"]) == 2


def test_ab_differing_rows_exit_nonzero(spark, capsys):
    """Arms whose rows differ fail the run before any rep is timed."""
    other = "data_ingest_utils_spark.plans.aggregates:agg_filtered"
    rc = main(["--sf", SF_SMOKE, "--reps", "2", f"a={AGG}", f"b={other}"],
              spark=spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert out["rows_identical"] is False
    assert "arms" not in out
