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
become reachable fails too, so the list only shrinks. The same rule holds
one level down: a public top-level def or class needs a caller outside
the tests, or an ``ALLOWED_DEFS`` reason.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re
from collections import Counter

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
        "ROADMAP direction 2 wires the ini-driven [KAFKA] sink chain into "
        "the agent",
    "log_agent_spark.sources.incremental":
        "ROADMAP direction 2 wires the (path, mtime) state into backfill, "
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


# "module.def" -> why it stays without a non-test caller (each names the
# ROADMAP direction that wires it)
ALLOWED_DEFS = {
    "log_agent_spark.sources.incremental.read_state":
        "ROADMAP direction 2 wires the (path, mtime) state into backfill",
    "log_agent_spark.sources.incremental.delta_since":
        "ROADMAP direction 2 wires the (path, mtime) state into backfill",
    "log_agent_spark.sources.incremental.commit_state":
        "ROADMAP direction 2 commits the (path, mtime) state after the sinks",
    "log_agent_spark.sinks.kafka.kafka_sink":
        "ROADMAP direction 2 wires the ini-driven [KAFKA] sink",
    "log_agent_spark.streaming.metrics.observed":
        "ROADMAP direction 3 builds the per-batch record on it",
}


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def _used_names(tree: ast.AST) -> Counter:
    """How often ``tree`` reads each identifier: names, attributes and
    imported names."""
    used: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used[node.name.rpartition(".")[2]] += 1
    return used


def test_every_public_def_has_a_caller_outside_tests():
    """A public top-level def or class of a reached or allowlisted module
    must be read by an entry point or a reached module, or be in
    ``ALLOWED_DEFS``. A read counts in the def's own module outside its own
    body, and in a file that imports that module; names match by
    identifier, so the audit can miss an orphan that shares a name with
    something such a file reads, but never fails a def that has a
    caller."""
    mods = _package_modules()
    by_path = {p: m for m, p in mods.items()}
    reached = reachable_modules()
    sources = {os.path.join(REPO, r) for r in ROOTS} | {mods[m] for m in reached}
    reads = {
        path: (_referenced_names(path, by_path.get(path)), _used_names(_parse(path)))
        for path in sources
    }

    orphans = []
    for module in sorted(reached | set(ALLOWED)):
        path = mods[module]
        for node in _parse(path).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            callers = 0
            for src, (imports, used) in reads.items():
                if src == path:  # a read inside its own body is recursion
                    callers += used[node.name] - _used_names(node)[node.name]
                elif module in imports:
                    callers += used[node.name]
            if callers <= 0:
                orphans.append(f"{module}.{node.name}")
    missing = sorted(set(orphans) - set(ALLOWED_DEFS))
    assert not missing, (
        "public defs that only tests call - give each a caller, delete it, "
        "or allowlist it in ALLOWED_DEFS with the ROADMAP direction that "
        "wires it:\n" + "\n".join(missing)
    )
    stale = sorted(set(ALLOWED_DEFS) - set(orphans))
    assert not stale, (
        f"allowlisted defs that now have a caller or are gone - drop them "
        f"from ALLOWED_DEFS: {stale}"
    )
