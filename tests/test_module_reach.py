"""Every package module should be reachable from the engine's entry
points, so a second implementation of a behaviour cannot sit in the tree
unused. Walk the package's imports statically with ``ast`` (no Spark,
nothing executed) from the entry modules and pin the set of modules the
walk never reaches: each is kept on purpose, for the reason given. A new
unreached module fails here the way a dangling script import fails
``test_scripts_load.py``."""

from __future__ import annotations

import ast
import os

PKG = "kafka_avro_order_processor_eg_4131_spark"
PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

ENTRY_POINTS = ("catalog", "streaming.pipeline", "api", "sources.generator")

# unreached module -> why it stays
ALLOWED_UNREACHED = {
    "sources.kafka": "broker option builders, gated by kafka_available(); no broker or connector jar here",
    "sources.bucketed": "bucketed-table writer whose shuffle-free join plan tests/test_bucketed.py pins",
    "streaming.eventtime": "watermarked window and stream-dedup operators, tested in tests/test_streaming_eventtime.py",
    "streaming.joins": "stream-static and stream-stream joins, tested in tests/test_streaming_joins.py",
}


def _package_modules() -> dict[str, str]:
    """Dotted name relative to the package ('' is the package itself,
    'sources' a subpackage's __init__) -> file path."""
    mods = {}
    for dirpath, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), PKG_DIR)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _with_parents(name: str) -> list[str]:
    """Importing a.b.c runs the __init__ of the package and of a and a.b."""
    parts = name.split(".") if name else []
    return [".".join(parts[:i]) for i in range(len(parts) + 1)]


def _imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Package modules that ``name`` imports anywhere in its body,
    function-local (lazy) imports included."""
    is_pkg = os.path.basename(path) == "__init__.py"
    here = name.split(".") if name else []
    if not is_pkg:
        here = here[:-1]
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    found.add(alias.name[len(PKG) + 1:])
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - (node.level - 1)]
                target = base + (node.module.split(".") if node.module else [])
            elif node.module and (node.module == PKG or node.module.startswith(PKG + ".")):
                target = node.module[len(PKG) + 1:].split(".") if node.module != PKG else []
            else:
                continue
            mod = ".".join(target)
            found.add(mod)
            for alias in node.names:  # `from .pkg import submodule`
                sub = f"{mod}.{alias.name}" if mod else alias.name
                if sub in mods:
                    found.add(sub)
    return {m for f in found if f in mods for m in _with_parents(f)}


def _reached(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = [m for e in ENTRY_POINTS for m in _with_parents(e)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return seen


def test_unreached_modules_are_exactly_the_allowed_ones():
    mods = _package_modules()
    unreached = set(mods) - _reached(mods)
    assert unreached == set(ALLOWED_UNREACHED), (
        f"newly unreached: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"now reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )
