"""Scripts outside the package (the contract entry, jobs, tools and the
benchmark) import `cdstore_spark` names that no pytest import reaches.
Parse them and the package's sources (stdlib `ast`, no Spark) and check
that every imported name, and every attribute read through an imported
module alias, still exists — a deletion that breaks one of those scripts
fails here instead of in the script's next run."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["__spark_entry__.py"] + [
    os.path.relpath(p, ROOT) for pat in ("jobs/*.py", "tools/*.py",
                                         "perfbench/*.py")
    for p in sorted(glob.glob(os.path.join(ROOT, pat)))]


def _source(module: str) -> str | None:
    """Source file of a `cdstore_spark` module or package, else None."""
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _top_names(module: str) -> set[str]:
    """Names bound at the top level of a module (through if/try/with
    blocks, not inside functions or classes)."""
    names: set[str] = set()
    todo = list(_parse(_source(module)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
            continue
        targets = getattr(node, "targets", [getattr(node, "target", None)])
        names.update(n.id for t in targets if t is not None
                     for n in ast.walk(t) if isinstance(n, ast.Name))
        for field in ("body", "orelse", "finalbody", "handlers"):
            todo.extend(getattr(node, field, []))
    return names


def test_scripts_use_only_existing_package_names():
    missing = []
    for rel in SCRIPTS:
        tree = _parse(os.path.join(ROOT, rel))
        aliases: dict[str, set[str]] = {}   # local name -> module(s)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == "cdstore_spark":
                        if _source(a.name) is None:
                            missing.append(f"{rel}: import {a.name}")
                        elif a.asname:
                            aliases.setdefault(a.asname, set()).add(a.name)
                        else:
                            aliases.setdefault("cdstore_spark", set()).add(
                                "cdstore_spark")
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.split(".")[0] == "cdstore_spark"):
                if _source(node.module) is None:
                    missing.append(f"{rel}: from {node.module}")
                    continue
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if _source(sub) is not None:
                        aliases.setdefault(a.asname or a.name,
                                           set()).add(sub)
                    elif a.name not in _top_names(node.module):
                        missing.append(f"{rel}: {sub}")
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases
                    and not node.attr.startswith("__")
                    and not any(_source(f"{m}.{node.attr}")
                                or node.attr in _top_names(m)
                                for m in aliases[node.value.id])):
                missing.append(f"{rel}:{node.lineno}: "
                               f"{node.value.id}.{node.attr}")
    assert not missing, missing
