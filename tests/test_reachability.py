"""Every package module is reachable from a real entry point.

Walks ``import`` statements with ``ast`` (module level and inside
functions) from the CLI (``app``), the registered queries
(``entry_queries``, ``__spark_entry__``), ``scripts/``, the benchmark
(``perfbench/``), and fails when a
package module is imported by nothing but ``tests/`` — such a module is
dead code with a test suite, and gets deleted rather than kept."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "data_quality_automated_evaluator_spark"


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, pathlib.Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imports(path: pathlib.Path, name: str, known: set[str]) -> set[str]:
    """Package modules (and sibling script modules) that ``path`` imports."""
    is_pkg = path.name == "__init__.py"
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    # scripts import their directory's modules by bare name (``import inputs``)
    siblings = set() if name in known else {p.stem for p in path.parent.glob("*.py")}
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                mod = ".".join(base[: len(base) - node.level + 1] + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            # ``from pkg import mod`` names a submodule, ``from mod import f`` a symbol
            targets = [mod, *(f"{mod}.{a.name}" for a in node.names)]
        else:
            continue
        for t in targets:
            if t in siblings:
                out.add(f"{path.parent}/{t}")
            parts = t.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1)
                       if ".".join(parts[:i]) in known)
    return out


def reachable() -> set[str]:
    modules = _package_modules()
    files: dict[str, pathlib.Path] = dict(modules)
    for p in [ROOT / "__spark_entry__.py",
              *(ROOT / "scripts").glob("*.py"), *(ROOT / "perfbench").glob("*.py")]:
        files[f"{p.parent}/{p.stem}"] = p
    roots = [f"{PKG}.app", f"{PKG}.entry_queries",
             *(k for k in files if k not in modules)]
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        m = stack.pop()
        if m in seen or m not in files:
            continue
        seen.add(m)
        stack.extend(_imports(files[m], m, set(modules)))
    return seen


def test_every_package_module_is_reachable():
    dead = sorted(set(_package_modules()) - reachable())
    assert not dead, f"package modules only tests import: {dead}"
