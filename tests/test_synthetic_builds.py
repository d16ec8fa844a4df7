"""The scale scripts reuse a synthetic dir once it exists, so a build
that fails part-way must leave no dir behind: otherwise every later run
would read it with the tables written after the failure missing."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _load_script(name: str, monkeypatch):
    # running a script puts its own directory first on sys.path
    monkeypatch.syspath_prepend(TESTS_DIR)
    spec = importlib.util.spec_from_file_location(
        f"_script_{name}", os.path.join(TESTS_DIR, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_tables(out_dir, fail_after_lineitem: bool) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for table in ("orders", "lineitem", "events"):
        with open(os.path.join(out_dir, f"{table}.parquet"), "wb") as f:
            f.write(b"PAR1")
        if table == "lineitem" and fail_after_lineitem:
            raise RuntimeError("build killed after lineitem")


def _names(path) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def test_scale_rehearsal_failed_build_leaves_nothing_to_reuse(
    tmp_path, monkeypatch
):
    mod = _load_script("scale_rehearsal", monkeypatch)
    monkeypatch.setattr(mod, "OUT", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["scale_rehearsal.py", "--build-only"])
    monkeypatch.setattr(
        mod, "build", lambda n, out: _write_tables(out, fail_after_lineitem=True)
    )
    with pytest.raises(RuntimeError, match="after lineitem"):
        mod.main()
    assert _names(tmp_path) == []

    # a build killed outright (no exception to clean up after) leaves
    # its partial temp dir; the next build removes it first
    killed = tmp_path / "sfx0.2.building"
    killed.mkdir()
    (killed / "stale.parquet").write_bytes(b"PAR1")
    monkeypatch.setattr(
        mod, "build", lambda n, out: _write_tables(out, fail_after_lineitem=False)
    )
    assert mod.main() == 0
    assert _names(tmp_path) == ["sfx0.2", "sfx0.3"]
    assert _names(tmp_path / "sfx0.2") == [
        "events.parquet", "lineitem.parquet", "orders.parquet"
    ]


def test_combined_sweep_failed_build_leaves_nothing_to_reuse(tmp_path, monkeypatch):
    mod = _load_script("combined_scale_sweep", monkeypatch)
    monkeypatch.setattr(mod, "OUT", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["combined_scale_sweep.py", "--build-only"])
    monkeypatch.setattr(
        mod, "build_base", lambda dst: _write_tables(dst, fail_after_lineitem=True)
    )
    with pytest.raises(RuntimeError, match="after lineitem"):
        mod.main()
    assert _names(tmp_path) == []

    monkeypatch.setattr(
        mod, "build_base", lambda dst: _write_tables(dst, fail_after_lineitem=False)
    )
    monkeypatch.setattr(
        mod, "build_nx", lambda src, dst, n: _write_tables(dst, fail_after_lineitem=True)
    )
    with pytest.raises(RuntimeError, match="after lineitem"):
        mod.main()
    assert _names(tmp_path) == ["combined_x1"]
