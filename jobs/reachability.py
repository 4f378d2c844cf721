#!/usr/bin/env python
"""Reachability inventory of the operator modules (stdlib ``ast`` only).

For every top-level name in ``operators/*.py`` this records what reaches
it, following imports, module attributes and calls statically across the
package, ``jobs/``, ``tests/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``:

  jobs        a script under ``jobs/``
  extraction  ``plans/pipeline.py::run_extraction``
  streaming   a top-level function of ``streaming/pipeline.py``
  tests       a test module under ``tests/`` names it directly
  registry    ``__spark_entry__.queries()`` / ``oracle_sql()``, whose every
              entry ``test_query_against_oracle`` runs
  bench       ``bench.py`` or the ``perfbench/`` benchmark

Walks stop at the registry, so a job or test that looks a query up by
name through ``queries()`` counts under ``registry``, not under itself.
A name nothing reaches is listed as unreachable: a deletion candidate.

    python jobs/reachability.py > REACHABILITY.md
"""

from __future__ import annotations

import ast
import glob
import os
from collections import deque

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "text_extractor_for_bioeconomic_products_spark"
MODULE_CODE = "<module>"
REGISTRY = {("__spark_entry__", "queries"), ("__spark_entry__", "oracle_sql")}
CATEGORIES = ("jobs", "extraction", "streaming", "tests", "registry", "bench")


class Module:
    def __init__(self, path: str):
        rel = os.path.relpath(path, REPO)[:-3].split(os.sep)
        self.is_pkg = rel[-1] == "__init__"
        self.name = ".".join(rel[:-1] if self.is_pkg else rel)
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), path)
        self.nodes: dict[str, list[ast.AST]] = {}
        for stmt in self.tree.body:
            for name in _defined_names(stmt):
                self.nodes.setdefault(name, []).append(stmt)
        self.aliases = _aliases(self, self.tree.body)


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [n.id for t in targets for n in ast.walk(t)
                 if isinstance(n, ast.Name)]
        if names:
            return names
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return []
    return [MODULE_CODE]


def _aliases(mod: Module, body) -> dict[str, tuple]:
    """Local name → ("mod", module) or ("name", module, attr) for every
    import statement under ``body`` (nested ones included)."""
    out: dict[str, tuple] = {}
    for stmt in body:
        for node in ast.walk(stmt):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        root = a.name.split(".")[0]
                        out[root] = ("mod", root)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = mod.name.split(".")
                    if not mod.is_pkg:
                        base = base[:-1]
                    base = base[: len(base) - (node.level - 1)]
                    src = ".".join(base + ([node.module] if node.module else []))
                else:
                    src = node.module
                for a in node.names:
                    out[a.asname or a.name] = ("name", src, a.name)
    return out


def _load_modules() -> dict[str, Module]:
    paths = (
        glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "jobs", "*.py"))
        + glob.glob(os.path.join(REPO, "tests", "*.py"))
        + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        + [os.path.join(REPO, "__spark_entry__.py"),
           os.path.join(REPO, "bench.py")]
    )
    mods = [Module(p) for p in sorted(paths)]
    return {m.name: m for m in mods}


def _build_graph(mods: dict[str, Module]) -> dict[tuple, set]:
    def resolve(module: str, name: str, seen=()) -> tuple | None:
        """(module, name) → the defining (module, top-level name), or a
        ("mod", module) marker when the name is itself a module."""
        if f"{module}.{name}" in mods:
            return ("mod", f"{module}.{name}")
        m = mods.get(module)
        if m is None or (module, name) in seen:
            return None
        if name in m.nodes:
            return (module, name)
        if name in m.aliases:  # re-export
            return target(m.aliases[name], seen + ((module, name),))
        return None

    def target(alias: tuple, seen=()) -> tuple | None:
        if alias[0] == "mod":
            return alias if alias[1] in mods else None
        return resolve(alias[1], alias[2], seen)

    def chain(node: ast.Attribute) -> list[str] | None:
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return None
        return [node.id] + parts[::-1]

    graph: dict[tuple, set] = {}
    for m in mods.values():
        for name, stmts in m.nodes.items():
            local = {**m.aliases, **_aliases(m, stmts)}
            edges: set = set()
            for stmt in stmts:
                for node in ast.walk(stmt):
                    parts = None
                    if isinstance(node, ast.Attribute):
                        parts = chain(node)
                    elif isinstance(node, ast.Name):
                        parts = [node.id]
                    if not parts:
                        continue
                    head = parts[0]
                    if head in local:
                        t = target(local[head])
                    elif head in m.nodes:
                        t = (m.name, head)
                    else:
                        continue
                    for attr in parts[1:]:
                        if t is None or t[0] != "mod":
                            break
                        t = resolve(t[1], attr)
                    if t is not None and t[0] != "mod":
                        edges.add(t)
            graph[(m.name, name)] = edges
    return graph


def _reach(graph: dict[tuple, set], roots: set, stop: set) -> set:
    seen = set(roots)
    todo = deque(roots)
    while todo:
        node = todo.popleft()
        if node in stop:
            continue
        mod_code = (node[0], MODULE_CODE)
        for nxt in graph[node] | ({mod_code} & graph.keys()):
            if nxt not in seen:
                seen.add(nxt)
                todo.append(nxt)
    return seen


def inventory() -> dict[str, dict[str, list[str]]]:
    """operators module → name → the categories reaching it."""
    mods = _load_modules()
    graph = _build_graph(mods)
    pipeline, streaming = f"{PKG}.plans.pipeline", f"{PKG}.streaming.pipeline"
    roots = {
        "jobs": {n for n in graph if n[0].startswith("jobs.")},
        "extraction": {(pipeline, "run_extraction")},
        "streaming": {n for n in graph if n[0] == streaming},
        "tests": {n for n in graph if n[0].startswith("tests.")},
        "registry": set(REGISTRY),
        "bench": {n for n in graph
                  if n[0] == "bench" or n[0].startswith("perfbench.")},
    }
    # registry lookups count under "registry" only
    reached = {
        c: _reach(graph, r, set() if c == "registry" else REGISTRY)
        for c, r in roots.items()
    }
    out: dict[str, dict[str, list[str]]] = {}
    prefix = f"{PKG}.operators."
    for m in sorted(mods):
        if not m.startswith(prefix):
            continue
        names = sorted(n for n in mods[m].nodes if n != MODULE_CODE)
        out[m[len(prefix):]] = {
            n: [c for c in CATEGORIES if (m, n) in reached[c]] for n in names
        }
    return out


def render(inv: dict[str, dict[str, list[str]]]) -> str:
    lines = [
        "# REACHABILITY — what reaches each top-level name in operators/",
        "",
        "Generated by `python jobs/reachability.py > REACHABILITY.md` "
        "(static `ast` walk; see the script's docstring for the categories).",
        "`registry only` names are reached through `queries()` / "
        "`oracle_sql()` and nothing else: the query families still to be "
        "kept or deleted.",
        "",
        "| module | names | unreachable | registry only |",
        "|---|---:|---:|---:|",
    ]
    for mod, names in inv.items():
        unreachable = sum(1 for c in names.values() if not c)
        reg_only = sum(1 for c in names.values() if c == ["registry"])
        lines.append(f"| `{mod}.py` | {len(names)} | {unreachable} | {reg_only} |")
    for mod, names in inv.items():
        lines += ["", f"## operators/{mod}.py", "",
                  "| reached from | names |", "|---|---|"]
        groups: dict[str, list[str]] = {}
        for name, cats in names.items():
            groups.setdefault(", ".join(cats) or "**unreachable**", []).append(name)
        for label in sorted(groups):
            listed = ", ".join(f"`{n}`" for n in groups[label])
            lines.append(f"| {label} | {listed} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    print(render(inventory()), end="")
