"""Pin-policy guard: every frame the engine materializes goes through
`session.pin`. An ast scan of the package and the contract module fails on
any other call of localCheckpoint, checkpoint, persist or cache."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PIN_METHODS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _stray_pins(source: str, is_session: bool) -> list[tuple[int, str]]:
    """(line, method) of every pin-method call outside session.pin."""
    tree = ast.parse(source)
    allowed: set[int] = set()
    if is_session:
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "pin":
                allowed = {id(n) for n in ast.walk(node)}
    return [(node.lineno, node.func.attr) for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in PIN_METHODS and id(node) not in allowed]


def test_pins_only_inside_session_pin():
    session = ROOT / "mvt_wrangler_spark" / "session.py"
    files = sorted((ROOT / "mvt_wrangler_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    stray = [f"{path.relative_to(ROOT)}:{line} .{method}()"
             for path in files
             for line, method in _stray_pins(path.read_text(), path == session)]
    assert not stray, "pin through session.pin instead: " + ", ".join(stray)
    assert _stray_pins(session.read_text(), False), "session.pin lost its pin"


def test_stray_pin_scan_catches_each_method():
    """Negative control: each method is caught outside pin, also chained
    or nested, and a pin-named function elsewhere grants nothing."""
    src = '''
def pin(df):
    return df.localCheckpoint(eager=True)

def op(df):
    a = df.select("id").localCheckpoint()
    b = df.checkpoint(eager=False)
    c = df.persist().cache()
    return pin(a).union(b).union(c)
'''
    assert sorted(m for _, m in _stray_pins(src, True)) == [
        "cache", "checkpoint", "localCheckpoint", "persist"]
    assert len(_stray_pins(src, False)) == 5
