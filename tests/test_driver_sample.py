"""Seeded driver-sample replica (round-4 verdict item 5): the driver
checks 50 RANDOM catalog entries per round; this gate reruns exactly
that statistical shape locally, in a fresh subprocess from a cwd
outside the repo (like the driver), seeded by the round number.

Run:  python -m pytest tests/ -m driver_sample -q
or directly:
      python /root/repo/tests/run_driver_check.py --sample 50 --seed <round>
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_ROUND = int(os.environ.get("SPARK_GRAFT_ROUND", "5"))
_CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run_driver_check.py")


class TestSelectNames:
    """Pure selection logic — fast, no Spark."""

    def _mod(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location("rdc", _CHECK)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_explicit_names_preserved_and_validated(self):
        m = self._mod()
        assert m.select_names(["b", "a", "c"], "c,a", None, 0) == ["c", "a"]
        with pytest.raises(SystemExit):
            m.select_names(["a"], "a,nope", None, 0)

    def test_sample_is_seeded_and_without_replacement(self):
        m = self._mod()
        names = [f"q{i:03d}" for i in range(223)]
        s1 = m.select_names(names, None, 50, 5)
        s2 = m.select_names(names, None, 50, 5)
        assert s1 == s2 and len(set(s1)) == 50
        assert m.select_names(names, None, 50, 6) != s1
        assert m.select_names(["a", "b"], None, 50, 1) == sorted(["a", "b"]) or set(
            m.select_names(["a", "b"], None, 50, 1)
        ) == {"a", "b"}

    def test_default_is_full_sorted_catalog(self):
        m = self._mod()
        assert m.select_names(["b", "a"], None, None, 0) == ["a", "b"]


@pytest.mark.driver_sample
def test_seeded_50_entry_sample_matches_oracles():
    out = subprocess.run(
        [sys.executable, _CHECK, "--sample", "50", "--seed", str(_ROUND)],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=2400,
    )
    tail = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    assert out.returncode == 0, f"driver sample failed: {tail}\n{out.stderr[-2000:]}"
    assert "mismatches: []" in tail, tail
