"""Reachability audit: every ``log_agent_spark`` module must be reached from
an entry point, or the library carries code that only its own tests run.

Entry points are the runnable agent (``log_agent_spark/__main__.py``), the
query registry (``__spark_entry__.py``), ``bench.py``, ``tools/*.py`` and
``perfbench/*.py``. The walk reads source with ``ast`` only (no Spark, no
module import). Edges:

- ``import`` / ``from ... import`` anywhere in a file, function-local and
  relative imports included;
- string constants naming a ``log_agent_spark.*`` module (a conf such as
  ``spark.python.daemon.module`` starts one by name);
- a reached module reaches its parent packages (importing ``a.b.c`` runs
  ``a/__init__.py`` and ``a/b/__init__.py``).

A new module lands with a caller, or in ``ALLOWED`` with a reason that
names the ROADMAP item that will wire it. An allowlisted module that has
become reachable fails too, so the list only shrinks.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "log_agent_spark"

ROOTS = [
    os.path.join(PACKAGE, "__main__.py"),
    "__spark_entry__.py",
    "bench.py",
    *sorted(
        os.path.relpath(p, REPO)
        for d in ("tools", "perfbench")
        for p in glob.glob(os.path.join(REPO, d, "*.py"))
    ),
]

# module -> why it stays without a caller (each names the ROADMAP item that wires it)
ALLOWED = {
    "log_agent_spark.sinks.kafka":
        "ROADMAP direction 4 wires the ini-driven [KAFKA] sink chain into "
        "the agent",
    "log_agent_spark.sources.incremental":
        "ROADMAP direction 4 wires the (path, mtime) state into backfill, "
        "committed after the sinks",
}

_MODULE_NAME = re.compile(PACKAGE + r"(?:\.\w+)+")


def _package_modules() -> dict[str, str]:
    """Dotted module name -> path for every ``.py`` file in the package."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")]
        parts = rel.split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _referenced_names(path: str, module: str | None) -> set[str]:
    """Dotted names a file imports or names in a string constant. For a
    ``from X import y``, both ``X`` and ``X.y`` are returned (``y`` may be a
    submodule); names that are not modules are dropped by the caller."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    if module is None or os.path.basename(path) == "__init__.py":
        package = module or ""
    else:
        package = module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), package
            )
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.update(_MODULE_NAME.findall(node.value))
    return names


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def reachable_modules() -> set[str]:
    mods = _package_modules()
    by_path = {p: m for m, p in mods.items()}
    reached: set[str] = set()
    walked: set[str] = set()
    todo = [os.path.join(REPO, r) for r in ROOTS]
    while todo:
        path = todo.pop()
        if path in walked:
            continue
        walked.add(path)
        names = _referenced_names(path, by_path.get(path))
        if path in by_path:  # a root inside the package reaches itself
            names.add(by_path[path])
        for name in names:
            for candidate in _with_parents(name):
                if candidate in mods and candidate not in reached:
                    reached.add(candidate)
                    todo.append(mods[candidate])
    return reached


def test_every_module_is_reachable_from_an_entry_point():
    missing = [r for r in ROOTS if not os.path.isfile(os.path.join(REPO, r))]
    assert not missing, f"entry points not found: {missing}"
    mods = _package_modules()
    reached = reachable_modules()
    orphans = sorted(set(mods) - reached - set(ALLOWED))
    assert not orphans, (
        "modules no entry point reaches (only tests call them) - give each "
        "a caller, delete it, or allowlist it with the ROADMAP item that "
        "wires it:\n" + "\n".join(orphans)
    )
    stale = sorted(m for m in ALLOWED if m not in mods or m in reached)
    assert not stale, (
        "allowlisted modules that are now reachable or gone - drop them "
        f"from ALLOWED: {stale}"
    )
