"""Reachability guard: every module of the package must be imported, directly
or transitively, from an entry point — the CLI, a `plans/` module, a
perfbench workload, the contract file `__spark_entry__.py`, or the contract
scripts `scripts/check_contract.py` and `scripts/plan_audit.py` — and every
module-level function and class must be used on a call chain from one. A
module or definition that only tests use is dead library code (or a test
oracle that belongs under `tests/`); this fails until it is moved or
deleted."""

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


def _names_used(nodes, aliases: dict[str, str]) -> set[str]:
    """Names that the code under `nodes` reads, as bare names or attributes.
    String constants are not references; an `import f as g` alias maps a
    use of g back to f."""
    used = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    return used | {aliases[n] for n in used if n in aliases}


def _aliases(tree: ast.Module) -> dict[str, str]:
    return {a.asname: a.name.rsplit(".", 1)[-1] for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for a in node.names if a.asname}


def unreached_definitions(base: Path, pkg: str, roots: list[Path]) -> set[str]:
    """Module-level functions and classes of package `pkg` that no name-level
    call chain from the `roots` files uses. The roots are read whole; so is
    every statement a package module runs on import (its module-level code,
    decorators, default values and base classes), since that code runs
    whatever an entry point calls. Matching is by name, not by module, so a
    name used anywhere reached keeps every definition of that name."""
    defs: dict[str, list[tuple[str, ast.AST, dict[str, str]]]] = {}
    used: set[str] = set()
    for path in set((base / pkg).rglob("*.py")) - set(roots):
        tree = ast.parse(path.read_text())
        aliases = _aliases(tree)
        mod = _module_name(path, base)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((f"{mod}.{node.name}", node, aliases))
                on_import = list(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    on_import += node.bases + node.keywords
                else:
                    on_import += node.args.defaults + [
                        d for d in node.args.kw_defaults if d is not None]
                used |= _names_used(on_import, aliases)
            else:
                used |= _names_used([node], aliases)
    for r in roots:
        tree = ast.parse(r.read_text())
        used |= _names_used([tree], _aliases(tree))
    todo = list(used)
    while todo:
        for _, node, aliases in defs.pop(todo.pop(), []):
            todo.extend(_names_used([node], aliases))
    return {qual for entries in defs.values() for qual, _, _ in entries}


def _entry_points() -> list[Path]:
    return ([REPO / PKG / "cli.py", REPO / "__spark_entry__.py",
             REPO / "scripts" / "check_contract.py",
             REPO / "scripts" / "plan_audit.py"]
            + sorted((REPO / PKG / "plans").glob("*.py"))
            + sorted((REPO / "perfbench").glob("*.py")))


def test_every_module_reachable_from_an_entry_point():
    assert unreachable(REPO, PKG, _entry_points()) == set()


def test_every_definition_reachable_from_an_entry_point():
    assert unreached_definitions(REPO, PKG, _entry_points()) == set()


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


def test_orphan_definition_is_flagged(tmp_path):
    """Negative control: a function no entry point uses must be reported,
    even when an entry point names it in a string, while a function that
    only module-level code calls, an aliased import and a chain through a
    class body count as reached."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "def _table():\n    return [1]\n\n"
        "TABLE = _table()\n\n"
        "def helper():\n    return 1\n\n"
        "class Runner:\n    def run(self):\n        return helper()\n\n"
        "def renamed():\n    return 2\n\n"
        "def orphan():\n    return 3\n")
    (pkg / "cli.py").write_text(
        "from .lib import Runner, renamed as r\n\n"
        "def main():\n    print('orphan')\n    return Runner().run() + r()\n")
    assert unreached_definitions(tmp_path, "pkg", [pkg / "cli.py"]) == {"pkg.lib.orphan"}
