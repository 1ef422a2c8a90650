"""Every top-level def, class and constant in the package is reached from
what the system runs, not only from tests.

The roots are the system's entry points: ``__spark_entry__.py`` (the
driver contract and its ``queries()`` bodies), ``jobs/*.py``, ``bench.py``
and ``perfbench/*.py``, plus every module-level statement of the package
that is not itself a def (imports, registrations). From there the check
closes over identifier names: ``Name`` and ``Attribute`` nodes, import
aliases, and string constants that are one ``\\w+`` word (``getattr``
targets, column names). A name reached anywhere reaches every package def
of that name, whose body then adds its own names. The check is by name,
not by binding, so it errs towards "reached"; what it reports is dead.

Run as a script to print the unreached defs with their line counts.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bodhium_webscrapper_spark"
ROOT_GLOBS = ("__spark_entry__.py", "jobs/*.py", "bench.py", "perfbench/*.py")

# Reached by no entry point, kept on purpose.
ALLOWLIST = {
    "registrable_domain_py": "Python twin of the JVM registrable_domain; tests compare the two",
    # with set_public_suffixes (reached: the module installs the embedded
    # snapshot through it at import), how a deployment loads the real list
    "load_public_suffix_list": "deployment hook: read a Public Suffix List file",
}

_WORD = re.compile(r"\w+")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _WORD.fullmatch(n.value):
                out.add(n.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _targets(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [n.id for t in stmt.targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def package_defs() -> tuple[dict[str, list[tuple[str, ast.stmt]]], set[str]]:
    """(name -> [(module path, def statement)], names of module-level roots)."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    roots: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO)
        for stmt in _parse(path).body:
            targets = _targets(stmt)
            if not targets:
                roots |= _names(stmt)
            for name in targets:
                defs.setdefault(name, []).append((rel, stmt))
    return defs, roots


def reachability() -> tuple[dict[str, list[tuple[str, ast.stmt]]], set[str]]:
    """(package defs by name, every name the entry points reach)."""
    defs, frontier = package_defs()
    for pattern in ROOT_GLOBS:
        for path in glob.glob(os.path.join(REPO, pattern)):
            frontier |= _names(_parse(path))
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, stmt in defs.get(name, ()):
            frontier |= _names(stmt) - reached
    return defs, reached


def unreached(defs, reached) -> list[tuple[str, str, int, int]]:
    """[(module path, name, first line, line count)] of every top-level
    def, class and constant that no entry point reaches."""
    out = []
    for name, sites in defs.items():
        if name in reached or name in ALLOWLIST:
            continue
        if name.startswith("__") and name.endswith("__"):
            continue
        for rel, stmt in sites:
            out.append((rel, name, stmt.lineno, stmt.end_lineno - stmt.lineno + 1))
    return sorted(out)


def test_every_package_def_is_reached_from_an_entry_point():
    defs, reached = reachability()
    dead = unreached(defs, reached)
    assert not dead, "reached only from tests (or nothing):\n" + "\n".join(
        f"  {rel}:{line} {name} ({n} lines)" for rel, name, line, n in dead
    )
    # no allowlist entry outlives its reason: each names a def that no
    # entry point reaches
    assert set(ALLOWLIST) <= set(defs) - reached


if __name__ == "__main__":
    rows = unreached(*reachability())
    for rel, name, line, n in rows:
        print(f"{rel}:{line}\t{name}\t{n}")
    print(f"{len(rows)} defs, {sum(r[3] for r in rows)} lines")
