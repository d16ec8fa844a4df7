"""Tests of the benchmark itself: the tail rule, span arithmetic, the
seeded inputs, and a toy-size run of each workload with and without
tracing.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from common import Span, covered, geomean, percentile, self_time, self_times, tail
from tables import TABLE_NAMES, build_tables

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


@pytest.mark.parametrize("n, idx, p", [
    (1, 0, 100.0), (19, 18, 100.0), (20, 9, 50.0), (24, 13, 100.0 * 14 / 24),
    (200, 189, 95.0), (1000, 989, 99.0),
])
def test_tail_is_largest_sample_with_ten_beyond(n, idx, p):
    vals = list(range(n, 0, -1))  # unsorted on purpose
    value, pct, count = tail(vals)
    assert (value, count) == (sorted(vals)[idx], n)
    assert pct == pytest.approx(p)
    if pct < 100.0:
        assert sum(v > value for v in vals) == 10


def test_percentile_is_nearest_rank():
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 100) == 4


def test_geomean_weighs_relative_changes_alike():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    # halving the small value moves it as much as halving the large one
    assert geomean([0.5, 100.0]) == pytest.approx(geomean([1.0, 50.0]))


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, start, end, parent, "run")


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 6.0, 1), _span(4, 8.0, 12.0, 1)]
    # children cover [1, 6] and [8, 10] inside the parent: 7 of 10 s
    assert self_time(parent, kids) == pytest.approx(3.0)
    assert covered([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_self_times_per_name_over_a_tree():
    spans = [
        _span(1, 0.0, 10.0, None, "batch"),
        _span(2, 1.0, 9.0, 1, "warm"),
        _span(3, 1.0, 5.0, 2, "write"),
        _span(4, 2.0, 8.0, 2, "write"),
    ]
    st = self_times(spans)
    assert st["batch"] == pytest.approx(2.0)
    assert st["warm"] == pytest.approx(1.0)  # 8 s minus writes covering [1, 8]
    assert st["write"] == pytest.approx(10.0)


def test_tables_are_seeded_and_typed():
    a = build_tables(seed=3, scale=0.001)
    b = build_tables(seed=3, scale=0.001)
    c = build_tables(seed=4, scale=0.001)
    assert tuple(a) == TABLE_NAMES
    assert all(a[t].equals(b[t]) for t in TABLE_NAMES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["customer"].schema.field("c_nationkey").type == a["nation"].schema.field("n_nationkey").type


def _run(workload, trace, cwd=ROOT, timeout=170):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload, trace", [
    ("stream_drain", 0), ("stream_drain", 1), ("catalog_mix", 0), ("catalog_mix", 1),
])
def test_toy_run_is_correct_and_prints_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in want]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    stamp = next(json.loads(line[6:]) for line in proc.stdout.splitlines() if line.startswith("stamp "))
    pid = stamp["run_id"].rsplit("-", 1)[1]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", f"work-{workload}-{pid}"))


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("stream_drain", 0, cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
