"""Unit tests of the benchmark's own arithmetic and generator.

Run from the repository root: ``python3 -m pytest perfbench -q``.
They start no Spark session.
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench.sparkstats import parse_size, steal_pct, union_s
from perfbench.trace import Span, self_times
from perfbench.workloads import frames_equal

GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_s([]) == 0.0


def test_steal_pct_is_the_steal_share_of_all_cpu_time():
    before = [100, 0, 50, 800, 0, 0, 0, 10]
    after = [160, 0, 70, 900, 0, 0, 0, 30]  # 200 jiffies, 20 of them stolen
    assert steal_pct(before, after) == pytest.approx(10.0)
    assert steal_pct(before, before) == 0.0


def test_self_time_subtracts_children():
    spans = [Span(0, "op", "op", 0, None, 0.0, 10.0),
             Span(1, "a", "plans", 0, 0, 1.0, 5.0),
             Span(2, "b", "operators.dedup", 0, 1, 2.0, 3.0)]
    assert self_times(spans) == pytest.approx({0: 6.0, 1: 3.0, 2: 1.0})
    assert sum(self_times(spans).values()) == pytest.approx(spans[0].dur)


@pytest.mark.parametrize("text,expect", [
    ("5.8 KiB", 5939),
    ("total (min, med, max (stageId: taskId))\n1.5 MiB (0.0 B, 0.0 B, 1.5 MiB (stage 3.0: task 6))",
     1572864),
    ("0", 0),
])
def test_parse_size(text, expect):
    assert parse_size(text) == expect


def test_frames_equal_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", None]})
    b = pd.DataFrame({"v": [None, "x"], "k": [2.0, 1.0]})
    assert frames_equal(a, b) is None
    assert "rows" in frames_equal(a, b.iloc[:1])
    assert frames_equal(a, b.assign(v=["y", "x"])) is not None


@pytest.mark.parametrize("workload", ["ingest_lake", "llm_curation"])
def test_generator_is_a_function_of_the_seed(tmp_path, workload):
    def gen(seed, name):
        out = tmp_path / name
        subprocess.run([sys.executable, GEN, "--workload", workload, "--seed", str(seed),
                        "--out", str(out)], check=True)
        return out

    a, b, c = gen(7, "a"), gen(7, "b"), gen(8, "c")
    files = sorted(os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs)
    assert filecmp.cmpfiles(a, b, files, shallow=False)[0] == files
    assert filecmp.cmpfiles(a, c, files, shallow=False)[0] != files
