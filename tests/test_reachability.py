"""Reachability guard: every module of the package must be imported, directly
or transitively, from an entry point — the CLI, a `plans/` module, a
perfbench workload, or the contract file `__spark_entry__.py`. A module that
only tests import is dead library code; this fails until it is deleted."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "mvt_wrangler_spark"


def _module_name(path: Path, base: Path) -> str:
    parts = list(path.relative_to(base).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path, name: str, modules: set[str]) -> set[str]:
    """Package modules `path` imports anywhere (function-local imports
    included), with every parent package an import also initializes."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = name.split(".") if is_pkg else name.split(".")[:-1]
                pkg = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            found |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return found & modules


def unreachable(base: Path, pkg: str, roots: list[Path]) -> set[str]:
    """Modules of package `pkg` (a directory under `base`) that no import
    chain from the `roots` files reaches."""
    files = {_module_name(p, base): p for p in (base / pkg).rglob("*.py")}
    modules = set(files)
    seen: set[str] = set()
    todo = []
    for r in roots:
        if r.is_relative_to(base / pkg):
            todo.append(_module_name(r, base))
        else:
            todo.extend(_imports(r, r.stem, modules))
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        parts = m.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(files[m], m, modules) - seen)
    return modules - seen


def _entry_points() -> list[Path]:
    return ([REPO / PKG / "cli.py", REPO / "__spark_entry__.py"]
            + sorted((REPO / PKG / "plans").glob("*.py"))
            + sorted((REPO / "perfbench").glob("*.py")))


def test_every_module_reachable_from_an_entry_point():
    assert unreachable(REPO, PKG, _entry_points()) == set()


def test_orphan_module_is_flagged(tmp_path):
    """Negative control: a module nothing imports must be reported, while
    relative, function-local and parent-package imports count as reached."""
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from . import _boot\n")
    (pkg / "_boot.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "used.py").write_text("")
    (pkg / "sub" / "orphan.py").write_text("")
    (pkg / "cli.py").write_text(
        "def main():\n    from .sub import used\n    return used\n")
    assert unreachable(tmp_path, "pkg", [pkg / "cli.py"]) == {"pkg.sub.orphan"}
