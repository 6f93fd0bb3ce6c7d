"""Exact pure-Python reimplementation of the reference expression executor.

Mirrors /root/reference/src/filtering/{expression_compiler.rs,executor.rs}
one-to-one. Values are ("null"|"string"|"number"|"float"|"bool"|"array",
payload) tuples; floats carry their Display string like the reference.

Also the builders of the compiler's typed tag rows (the MVT Value oneof as a
Spark struct), which the tests feed to the Catalyst side.
"""

from __future__ import annotations

import re
from typing import Any

from mvt_wrangler_spark.operators.expr import BOOL, FLOAT, NUMBER, STRING, VALUE_STRUCT_DDL

Value = tuple  # (kind, payload)

NULL = ("null", None)


def from_json(v: Any) -> Value:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("number", v)
    if isinstance(v, float):
        return ("float", repr(v))  # serde_json keeps the .0 (2.0 -> "2.0")
    if isinstance(v, str):
        return ("string", v)
    if isinstance(v, (list, tuple)):
        return ("array", tuple(from_json(x) for x in v))
    raise ValueError(f"unsupported literal {v!r}")


def display(v: Value) -> str:
    k, p = v
    if k == "null":
        return "null"
    if k == "string":
        return p
    if k == "number":
        return str(p)
    if k == "float":
        return p
    if k == "bool":
        return "true" if p else "false"
    return "[" + ", ".join(display(x) for x in p) + "]"


def to_bool(v: Value) -> bool:
    k, p = v
    if k == "null":
        return False
    if k == "string":
        return p != ""
    if k == "number":
        return p != 0
    if k == "float":
        return p not in ("0", "0.0")
    if k == "bool":
        return p
    return len(p) > 0


def _parse_f(s: str) -> float:
    try:
        return float(s)
    except (TypeError, ValueError):
        return 0.0


def compare_values_py(a: Value, b: Value) -> int:
    """executor.rs:200-235 — returns -1/0/1."""
    ka, kb = a[0], b[0]
    if ka == "null" and kb == "null":
        return 0
    if ka == "null":
        return -1
    if kb == "null":
        return 1
    if ka == "bool" and kb == "bool":
        return (a[1] > b[1]) - (a[1] < b[1])
    if ka == "number" and kb == "number":
        return (a[1] > b[1]) - (a[1] < b[1])
    if ka == "float" and kb == "float":
        x, y = _parse_f(a[1]), _parse_f(b[1])
        return 0 if (x != x or y != y or x == y) else (1 if x > y else -1)
    if ka == "number" and kb == "float":
        x, y = float(a[1]), _parse_f(b[1])
        return 0 if (y != y or x == y) else (1 if x > y else -1)
    if ka == "float" and kb == "number":
        x, y = _parse_f(a[1]), float(b[1])
        return 0 if (x != x or x == y) else (1 if x > y else -1)
    if ka == "string" and kb == "string":
        xa, xb = a[1].encode(), b[1].encode()  # Rust String cmp is byte-wise
        return (xa > xb) - (xa < xb)
    da, db = display(a).encode(), display(b).encode()
    return (da > db) - (da < db)


class Context:
    def __init__(self, properties: dict[str, Value], current_key: str | None = None,
                 geometry_type: str | None = None):
        self.properties = properties
        self.current_key = current_key
        self.geometry_type = geometry_type


def evaluate(expr: Any, ctx: Context) -> Value:
    """Compile+evaluate in one pass (semantics identical; validation included)."""
    if not isinstance(expr, list):
        if isinstance(expr, dict):
            raise ValueError("Object expressions are not supported")
        return from_json(expr)
    if not expr:
        raise ValueError("Expression array cannot be empty")
    op, args = expr[0], expr[1:]

    if op in ("==", "!=", "<", ">", "<=", ">="):
        assert len(args) == 2
        c = compare_values_py(evaluate(args[0], ctx), evaluate(args[1], ctx))
        return ("bool", {"==": c == 0, "!=": c != 0, "<": c < 0, ">": c > 0,
                         "<=": c <= 0, ">=": c >= 0}[op])
    if op == "any":
        return ("bool", any(to_bool(evaluate(a, ctx)) for a in args))
    if op == "all":
        return ("bool", all(to_bool(evaluate(a, ctx)) for a in args))
    if op == "none":
        return ("bool", not any(to_bool(evaluate(a, ctx)) for a in args))
    if op in ("not", "!"):
        assert len(args) == 1
        return ("bool", not to_bool(evaluate(args[0], ctx)))
    if op in ("in", "not-in"):
        assert len(args) == 2
        v = evaluate(args[0], ctx)
        members = evaluate(args[1], ctx)
        if members[0] != "array":
            raise ValueError("In operator requires an array of values")
        hit = v in set(members[1])  # exact-typed equality
        return ("bool", not hit if op == "not-in" else hit)
    if op in ("starts-with", "ends-with"):
        assert len(args) == 2 and isinstance(args[1], str)
        s = display(evaluate(args[0], ctx))
        return ("bool", s.startswith(args[1]) if op == "starts-with" else s.endswith(args[1]))
    if op == "regex-match":
        assert len(args) == 2
        rx = re.compile(args[1])
        return ("bool", rx.search(display(evaluate(args[0], ctx))) is not None)
    if op == "regex-capture":
        assert len(args) >= 3
        rx = re.compile(args[1])
        m = rx.search(display(evaluate(args[0], ctx)))
        if m is None:
            return NULL
        if args[2] > rx.groups or m.group(args[2]) is None:
            return NULL
        return ("string", m.group(args[2]))
    if op == "boolean":
        assert len(args) == 1
        return ("bool", to_bool(evaluate(args[0], ctx)))
    if op == "string":
        assert len(args) == 1
        return ("string", display(evaluate(args[0], ctx)))
    if op == "literal":
        assert len(args) == 1
        return from_json(args[0])
    if op == "tag":
        assert len(args) == 1 and isinstance(args[0], str)
        return ctx.properties.get(args[0], NULL)
    if op == "key":
        assert len(args) == 0
        return ("string", ctx.current_key) if ctx.current_key is not None else NULL
    if op == "type":
        assert len(args) == 0
        return ("string", ctx.geometry_type) if ctx.geometry_type is not None else NULL
    raise ValueError(f"Unknown operator: {op}")


def evaluate_bool(expr: Any, ctx: Context) -> bool:
    return to_bool(evaluate(expr, ctx))


def rust_f64_display(x: float) -> str:
    """Rust `f64::Display` formatting (shortest round-trip, never scientific).

    Python repr() is also shortest-round-trip but uses exponent notation and
    keeps a trailing `.0`; Rust prints 2.0 as "2" and 1e20 as
    "100000000000000000000".
    """
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    r = repr(x)
    if "e" in r or "E" in r:
        # expand exponent notation without changing the digits
        from decimal import Decimal

        r = format(Decimal(r), "f")
    if r.endswith(".0"):
        r = r[:-2]
    return r


TYPED_TAGS_DDL = f"map<string,{VALUE_STRUCT_DDL}>"


def tv_string(s: str) -> dict:
    return {"t": STRING, "s": s, "i": None, "f": None, "fs": None, "b": None}


def tv_number(i: int) -> dict:
    """int/uint/sint MVT values all land on Number (expression_compiler.rs:81-86)."""
    return {"t": NUMBER, "s": None, "i": i, "f": None, "fs": None, "b": None}


def tv_float(x: float) -> dict:
    """float/double MVT values carry their Rust Display string."""
    return {"t": FLOAT, "s": None, "i": None, "f": x, "fs": rust_f64_display(x), "b": None}


def tv_bool(b: bool) -> dict:
    return {"t": BOOL, "s": None, "i": None, "f": None, "fs": None, "b": b}
