"""The command-line scripts under tests/ are run by hand, never imported
by a test module, so a dangling import in one (a helper module that was
deleted or renamed) would go unnoticed until someone ran it. Load each
by path, as ``python tests/<name>.py`` would, without calling main()."""

from __future__ import annotations

import importlib.util
import os

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))

# script -> the function its ``__main__`` block calls
SCRIPTS = {
    "run_driver_check": "main",
    "check_subset": "main",
    "scale_rehearsal": "main",
    "combined_scale_sweep": "main",
    "skew_fixture": "build_skew_fixture",
}


@pytest.mark.parametrize("name", sorted(SCRIPTS))
def test_script_module_loads(name, monkeypatch):
    # running a script puts its own directory first on sys.path
    monkeypatch.syspath_prepend(TESTS_DIR)
    spec = importlib.util.spec_from_file_location(
        f"_script_{name}", os.path.join(TESTS_DIR, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, SCRIPTS[name]))
