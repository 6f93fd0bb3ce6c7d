"""Maplibre-style JSON expression DSL compiled to Catalyst Columns.

Reference semantics reproduced exactly (KotobaMedia/mvt-wrangler):
  - operator table:        /root/reference/src/filtering/data.rs:76-137
  - compile + literals:    /root/reference/src/filtering/expression_compiler.rs:132-328
  - value model (oneof):   expression_compiler.rs:47-96 (floats carried as their
                           Rust Display string "to maintain precision and enable
                           hashing")
  - truthiness:            expression_compiler.rs:99-108
  - comparison ladder:     /root/reference/src/filtering/executor.rs:200-235
    (null==null, null<everything; bool/bool; int/int; float/float and int/float
    as f64 with parse-fail→0.0; string/string; ANY OTHER MIX compares the
    Display strings — so 1 == "1" is true via string compare)
  - `in` membership is EXACT-TYPED (HashSet over the value enum — no coercion;
    Number(1) ∉ {Float("1")}): expression_compiler.rs:232-243, executor.rs:132-135
  - string ops coerce via Display (Null → "null"): executor.rs:138-165
  - regex-capture: no-match or absent group → Null (falsy, in-list matchable):
    executor.rs:153-165

The compiler targets Catalyst instead of a Rust enum tree: every DSL node
lowers to built-in pyspark.sql.functions column expressions (JVM-side,
whole-stage codegen — no Python in the hot path). Folding happens here, at
compile time, not in Catalyst: each column value carries the static set of
kinds it can hold (a literal one, a string-tag lookup NULL or STRING), and
every type cascade emits only the branches those kinds reach; boolean
operators over constants fold to constants. A Column built with the dead
branches costs driver py4j calls and analysis on every build, even though
the optimizer removes them later.

Value kinds: NULL=0 STRING=1 NUMBER=2 FLOAT=3 BOOL=4 (arrays exist only as
compile-time `in`-list / literal values, never as column data).

Known, documented divergences from the reference (exact in the pure-Python
evaluator `tests/oracle/expr_oracle.py`, approximated in columns):
  - regex-capture of a *participating-but-empty* group vs a non-participating
    group: Spark's regexp_extract can't distinguish; we return String("") when
    the pattern matches and the group index exists, Null otherwise.
  - NaN in float comparisons: Rust's partial_cmp fallback treats NaN-vs-x as
    Equal; Spark orders NaN last. Filter data never carries NaN.
  - Rust vs Java regex dialects: patterns pass through unchanged; both are
    perl-compatible for the common subset (the reference's own fixtures use
    only `^ $ . * ? () []` constructs, identical in both).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from typing import Any, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL, STRING, NUMBER, FLOAT, BOOL, ARRAY = 0, 1, 2, 3, 4, 5

_KNOWN_OPS = {
    "==", "!=", "<", ">", "<=", ">=",
    "any", "all", "none", "not", "!",
    "in", "not-in", "starts-with", "ends-with", "regex-match",
    "regex-capture", "boolean", "string", "literal", "tag", "key", "type",
}
# DOC-PARITY ops: /root/reference/FILTERING.md:25-26 documents `not-in`
# (membership) and `string` (casting), but the reference IMPLEMENTATION
# rejects both (src/filtering/data.rs:112-137 from_str -> "Unknown
# operator"). A user following the doc writes them, so this compiler
# accepts them: `not-in` is the exact-typed negation of `in`, and `string`
# casts via the same Display used by the string ops (Null -> "null").


class ExpressionCompileError(ValueError):
    """Raised at compile time — mirrors the reference's anyhow errors."""



# ---------------------------------------------------------------------------
# Compile-time (literal) values — mirrors ExpressionValue
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Lit:
    """A compile-time ExpressionValue: kind + payload.

    Floats store (display_string, parsed_f64) — parse of the display string
    with parse-fail→0.0 happens once here, like the reference does per
    comparison (executor.rs:214).
    """

    kind: int
    s: str | None = None
    i: int | None = None
    fs: str | None = None
    b: bool | None = None
    arr: tuple["Lit", ...] | None = None

    @property
    def f(self) -> float:
        try:
            return float(self.fs)
        except (TypeError, ValueError):
            return 0.0

    def display(self) -> str:
        if self.kind == NULL:
            return "null"
        if self.kind == STRING:
            return self.s
        if self.kind == NUMBER:
            return str(self.i)
        if self.kind == FLOAT:
            return self.fs
        if self.kind == BOOL:
            return "true" if self.b else "false"
        return "[" + ", ".join(v.display() for v in self.arr) + "]"

    def truthy(self) -> bool:
        if self.kind == NULL:
            return False
        if self.kind == STRING:
            return self.s != ""
        if self.kind == NUMBER:
            return self.i != 0
        if self.kind == FLOAT:
            return self.fs not in ("0", "0.0")
        if self.kind == BOOL:
            return self.b
        return len(self.arr) > 0


def lit_from_json(v: Any) -> Lit:
    """ExpressionValue::from_json_value (expression_compiler.rs:58-75)."""
    if v is None:
        return Lit(NULL)
    if isinstance(v, bool):
        return Lit(BOOL, b=v)
    if isinstance(v, int):
        return Lit(NUMBER, i=v)
    if isinstance(v, float):
        # serde_json prints non-integer numbers with their JSON text; for a
        # Python float the equivalent canonical form is the shortest
        # round-trip with a ".0" kept for integral values ("2.0" not "2"),
        # matching serde_json::Number::to_string.
        r = repr(v)
        return Lit(FLOAT, fs=r)
    if isinstance(v, str):
        return Lit(STRING, s=v)
    if isinstance(v, (list, tuple)):
        return Lit(ARRAY, arr=tuple(lit_from_json(x) for x in v))
    raise ExpressionCompileError(f"Unsupported literal: {v!r}")


# ---------------------------------------------------------------------------
# Compile-time folding: a value is a Python constant or a Column
# ---------------------------------------------------------------------------

_UNREACHABLE = object()  # a CASE fallback no row can reach


def as_column(v: Any) -> Column:
    """A folded value (Python constant or Column) as a Column."""
    return v if isinstance(v, Column) else F.lit(v)


def _is_const(v: Any) -> bool:
    return not isinstance(v, Column)


def fold_and(x: Any, y: Any) -> Any:
    """x AND y; a constant operand decides or drops out (3-valued logic
    agrees: FALSE AND NULL is FALSE, TRUE AND x is x)."""
    if x is False or y is False:
        return False
    if x is True:
        return y
    if y is True:
        return x
    return x & y


def fold_or(x: Any, y: Any) -> Any:
    """x OR y with the same folding as fold_and."""
    if x is True or y is True:
        return True
    if x is False:
        return y
    if y is False:
        return x
    return x | y


def _fold_not(x: Any) -> Any:
    return (not x) if isinstance(x, bool) else ~x


def fold_case(branches: list, otherwise: Any) -> Any:
    """CASE WHEN over (condition, value) pairs, folded at compile time.

    A False condition drops its branch and a True one ends the cascade.
    `otherwise=_UNREACHABLE` says the conditions cover every row, so the
    last live branch becomes the fallback. Trailing branches whose value is
    the fallback's constant are dropped. A cascade that folds to a constant
    returns it."""
    live = []
    for cond, val in branches:
        if cond is False:
            continue
        if cond is True:
            otherwise = val
            break
        live.append((cond, val))
    if otherwise is _UNREACHABLE:
        otherwise = live.pop()[1]
    while live and _is_const(live[-1][1]) and _is_const(otherwise) \
            and live[-1][1] == otherwise and type(live[-1][1]) is type(otherwise):
        live.pop()
    if not live:
        return otherwise
    out = F.when(live[0][0], as_column(live[0][1]))
    for cond, val in live[1:]:
        out = out.when(cond, as_column(val))
    return out.otherwise(as_column(otherwise))


# ---------------------------------------------------------------------------
# Runtime (column) values: a bundle of per-kind columns
# ---------------------------------------------------------------------------

# kind pairs the comparison ladder orders by payload (the rest by Display)
_LADDER_PAIRS = {(BOOL, BOOL), (NUMBER, NUMBER), (FLOAT, FLOAT),
                 (NUMBER, FLOAT), (FLOAT, NUMBER), (STRING, STRING)}


class CVal:
    """A column-valued ExpressionValue: kind column + per-kind payloads,
    plus the static set of kinds the value can hold.

    `kinds=None` means any kind the data carries (typed tag structs read it
    from the data). Otherwise only the payloads of those kinds exist, and
    every test, Display and truthiness cascade emits branches for those
    kinds only: a `map<string,string>` lookup is NULL or STRING, so it never
    builds the NUMBER/FLOAT/BOOL branches. `null_of` is the column whose
    NULL marks kind NULL in a {NULL, X} value; `lit` is the literal a
    constant CVal came from."""

    __slots__ = ("kinds", "t", "s", "i", "f", "fs", "b", "null_of", "lit")

    def __init__(self, kinds: frozenset | None, t: Column | None = None,
                 s: Column | None = None, i: Column | None = None,
                 f: Column | None = None, fs: Column | None = None,
                 b: Column | None = None, null_of: Column | None = None,
                 lit: Lit | None = None):
        self.kinds, self.t, self.null_of, self.lit = kinds, t, null_of, lit
        self.s, self.i, self.f, self.fs, self.b = s, i, f, fs, b

    @staticmethod
    def from_lit(v: Lit) -> "CVal":
        k = v.kind
        return CVal(
            frozenset({k}), lit=v,
            s=F.lit(v.s) if k == STRING else None,
            i=F.lit(v.i).cast("long") if k == NUMBER else None,
            f=F.lit(v.f) if k == FLOAT else None,
            fs=F.lit(v.fs) if k == FLOAT else None,
            b=F.lit(v.b) if k == BOOL else None,
        )

    @staticmethod
    def from_string_col(c: Column) -> "CVal":
        """A nullable string column (map<string,string> tag lookup): NULL or STRING."""
        return CVal(frozenset({NULL, STRING}), s=c, null_of=c)

    @staticmethod
    def from_bool_col(c: Column) -> "CVal":
        return CVal(frozenset({BOOL}), b=c)

    @staticmethod
    def from_value_struct(c: Column) -> "CVal":
        """Typed tag struct `struct<t,s,i,f,fs,b>` (MVT Value oneof analog).

        A NULL struct (missing map key) is kind NULL.
        """
        return CVal(
            None,
            t=F.coalesce(c.getField("t"), F.lit(NULL)),
            s=c.getField("s"),
            i=c.getField("i"),
            f=c.getField("f"),
            fs=c.getField("fs"),
            b=c.getField("b"),
        )

    def can(self, k: int) -> bool:
        return self.kinds is None or k in self.kinds

    def is_(self, k: int) -> Any:
        """`kind == k`, folded to a constant when the kinds decide it."""
        if self.kinds is not None:
            if k not in self.kinds:
                return False
            if len(self.kinds) == 1:
                return True
            if self.null_of is not None:  # kinds == {NULL, X}
                return self.null_of.isNull() if k == NULL else self.null_of.isNotNull()
        return self.t == k

    def _by_kind(self, per_kind: dict, fallback: Any) -> Any:
        """One branch per possible kind; the fallback only for open kinds."""
        return fold_case([(self.is_(k), fn(self)) for k, fn in per_kind.items()
                          if self.can(k)],
                         fallback if self.kinds is None else _UNREACHABLE)

    def display(self) -> Any:
        """Rust Display coercion (expression_compiler.rs:111-125)."""
        if self.lit is not None:
            return self.lit.display()
        return self._by_kind(_DISPLAY, None)

    def truthy(self) -> Any:
        """to_bool (expression_compiler.rs:99-108)."""
        if self.lit is not None:
            return self.lit.truthy()
        return self._by_kind(_TRUTHY, False)


_DISPLAY = {
    NULL: lambda v: "null",
    STRING: lambda v: v.s,
    NUMBER: lambda v: v.i.cast("string"),
    FLOAT: lambda v: v.fs,
    BOOL: lambda v: F.when(v.b, F.lit("true")).otherwise(F.lit("false")),
}
_TRUTHY = {
    NULL: lambda v: False,
    STRING: lambda v: v.s != "",
    NUMBER: lambda v: v.i != 0,
    FLOAT: lambda v: (v.fs != "0") & (v.fs != "0.0"),
    BOOL: lambda v: v.b,
}


Val = Union[Lit, CVal]


def _as_cval(v: Val) -> CVal:
    return CVal.from_lit(v) if isinstance(v, Lit) else v


def _bool_val(v: Val) -> Any:
    """Truthiness of an evaluated node: a Python bool or a Column."""
    return v.truthy()


def _bool_result(x: Any) -> Val:
    """A folded boolean as a node value: a literal when constant."""
    return Lit(BOOL, b=x) if isinstance(x, bool) else CVal.from_bool_col(x)


_ORD_OPS = {"==": operator.eq, "!=": operator.ne, "<": operator.lt,
            ">": operator.gt, "<=": operator.le, ">=": operator.ge}


def _cmp(a: Val, b: Val, op: str) -> Any:
    """compare_values coercion ladder (executor.rs:200-235) as one cascade.

    One branch per type pair the operands can hold, folded at compile time:
    a literal side has one kind, a string-tag lookup two (NULL, STRING), so
    `["==", ["tag", "kind"], "building"]` compiles to one null test and one
    string comparison. Only open kinds (typed tag structs) keep the whole
    ladder and the Display fallback."""
    cmp = _ORD_OPS[op]
    if isinstance(a, Lit) and isinstance(b, Lit):
        return cmp(_compare_lits(a, b), 0)
    ca, cb = _as_cval(a), _as_cval(b)

    def o(x: Any, y: Any) -> Column:
        return cmp(as_column(x), as_column(y))

    # result when ordering is Equal / Less / Greater
    eq_r, lt_r, gt_r = cmp(0, 0), cmp(-1, 0), cmp(1, 0)
    branches = [(fold_and(ca.is_(NULL), cb.is_(NULL)), eq_r),
                (ca.is_(NULL), lt_r), (cb.is_(NULL), gt_r)]
    payload = {
        (BOOL, BOOL): lambda: o(ca.b.cast("int"), cb.b.cast("int")),
        (NUMBER, NUMBER): lambda: o(ca.i, cb.i),
        (FLOAT, FLOAT): lambda: o(ca.f, cb.f),
        (NUMBER, FLOAT): lambda: o(ca.i.cast("double"), cb.f),
        (FLOAT, NUMBER): lambda: o(ca.f, cb.i.cast("double")),
        (STRING, STRING): lambda: o(ca.s, cb.s),
    }
    for (ka, kb), val in payload.items():
        cond = fold_and(ca.is_(ka), cb.is_(kb))
        if cond is not False:
            branches.append((cond, val()))
    mixed = (ca.kinds is None or cb.kinds is None
             or any((x, y) not in _LADDER_PAIRS
                    for x in ca.kinds - {NULL} for y in cb.kinds - {NULL}))
    return fold_case(branches, o(ca.display(), cb.display()) if mixed
                     else _UNREACHABLE)


def _compare_lits(a: Lit, b: Lit) -> int:
    """Compile-time constant fold of the same ladder (-1/0/1)."""
    if a.kind == NULL and b.kind == NULL:
        return 0
    if a.kind == NULL:
        return -1
    if b.kind == NULL:
        return 1
    if a.kind == BOOL and b.kind == BOOL:
        return (a.b > b.b) - (a.b < b.b)
    if a.kind == NUMBER and b.kind == NUMBER:
        return (a.i > b.i) - (a.i < b.i)
    if a.kind in (NUMBER, FLOAT) and b.kind in (NUMBER, FLOAT):
        x = float(a.i) if a.kind == NUMBER else a.f
        y = float(b.i) if b.kind == NUMBER else b.f
        if x != x or y != y or x == y:  # NaN -> Equal (partial_cmp fallback)
            return 0
        return 1 if x > y else -1
    if a.kind == STRING and b.kind == STRING:
        xa, xb = a.s.encode(), b.s.encode()
        return (xa > xb) - (xa < xb)
    da, db = a.display().encode(), b.display().encode()
    return (da > db) - (da < db)


def _in_members(c: CVal, members: tuple[Lit, ...]) -> Any:
    """Exact-typed membership (HashSet equality on the enum — no coercion):
    one kind test and one IN list per member kind the value can hold.
    Arrays never equal column data (no array columns)."""
    uniq = list(dict.fromkeys(members))
    hit: Any = False
    if any(m.kind == NULL for m in uniq):
        hit = c.is_(NULL)
    for kind, attr in ((STRING, "s"), (NUMBER, "i"), (FLOAT, "fs"), (BOOL, "b")):
        vals = [getattr(m, attr) for m in uniq if m.kind == kind]
        is_k = c.is_(kind) if vals else False
        if is_k is False:
            continue
        col = getattr(c, attr)
        hit = fold_or(hit, fold_and(is_k, col == vals[0] if len(vals) == 1
                                    else col.isin(vals)))
    return hit


# ---------------------------------------------------------------------------
# Evaluation context (column bindings)
# ---------------------------------------------------------------------------

@dataclass
class ColumnContext:
    """Column bindings for the three context ops (executor.rs:10-40).

    tags: either a map<string,string> column (graft data) or a
    map<string, struct<t,s,i,f,fs,b>> column (typed MVT-style tags) —
    set typed=True for the latter.
    key / geom_type: nullable string columns (None -> DSL Null).
    """

    tags: Column | None = None
    key: Column | None = None
    geom_type: Column | None = None
    typed: bool = False

    def tag(self, name: str) -> Val:
        if self.tags is None:
            return Lit(NULL)
        looked = F.element_at(self.tags, F.lit(name))
        if self.typed:
            return CVal.from_value_struct(looked)
        return CVal.from_string_col(looked)


# ---------------------------------------------------------------------------
# The compiler
# ---------------------------------------------------------------------------

def _ensure_args(op: str, args: list, n: int) -> None:
    if len(args) != n:
        raise ExpressionCompileError(f"{op}: expected {n} arguments, got {len(args)}")


def compile_value(expr: Any, ctx: ColumnContext) -> Val:
    """Compile a DSL node to a value (Lit or CVal). Mirrors compile()."""
    if isinstance(expr, list):
        if not expr:
            raise ExpressionCompileError("Expression array cannot be empty")
        op = expr[0]
        if not isinstance(op, str):
            raise ExpressionCompileError("First element must be operator string")
        if op not in _KNOWN_OPS:
            raise ExpressionCompileError(f"Unknown operator: {op}")
        return _compile_op(op, expr[1:], ctx)
    if isinstance(expr, dict):
        raise ExpressionCompileError("Object expressions are not supported")
    return lit_from_json(expr)  # bare JSON scalar auto-literal


def _compile_op(op: str, args: list, ctx: ColumnContext) -> Val:
    if op in ("==", "!=", "<", ">", "<=", ">="):
        _ensure_args(op, args, 2)
        a = compile_value(args[0], ctx)
        b = compile_value(args[1], ctx)
        return _bool_result(_cmp(a, b, op))

    if op in ("any", "all", "none"):
        vals = [_bool_val(compile_value(a, ctx)) for a in args]
        if op == "all":  # 0 args -> true (executor.rs:108-116)
            out = True
            for v in vals:
                out = fold_and(out, v)
            return _bool_result(out)
        out = False  # any: 0 args -> false (executor.rs:99-107)
        for v in vals:
            out = fold_or(out, v)
        # none: NOT OR (executor.rs:117-125)
        return _bool_result(_fold_not(out) if op == "none" else out)

    if op in ("not", "!"):
        _ensure_args(op, args, 1)
        return _bool_result(_fold_not(_bool_val(compile_value(args[0], ctx))))

    if op in ("in", "not-in"):
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        members = compile_value(args[1], ctx)
        if not (isinstance(members, Lit) and members.kind == ARRAY):
            raise ExpressionCompileError("In operator requires an array of values")
        hit = (v in set(members.arr)) if isinstance(v, Lit) \
            else _in_members(v, members.arr)
        return _bool_result(_fold_not(hit) if op == "not-in" else hit)

    if op in ("starts-with", "ends-with"):
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        if not isinstance(args[1], str):
            raise ExpressionCompileError(f"{op} requires string argument")
        pat = args[1]
        d = _as_cval(v).display()
        if isinstance(d, str):
            return Lit(BOOL, b=d.startswith(pat) if op == "starts-with" else d.endswith(pat))
        fn = F.startswith if op == "starts-with" else F.endswith
        return CVal.from_bool_col(fn(d, F.lit(pat)))

    if op == "regex-match":
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        pattern = args[1]
        if not isinstance(pattern, str):
            raise ExpressionCompileError("RegexMatch requires string pattern")
        _validate_regex(pattern)
        d = as_column(_as_cval(v).display())
        return CVal.from_bool_col(d.rlike(pattern))

    if op == "regex-capture":
        if len(args) < 3:
            raise ExpressionCompileError(f"regex-capture: expected at least 3 arguments, got {len(args)}")
        v = compile_value(args[0], ctx)
        pattern, group = args[1], args[2]
        if not isinstance(pattern, str):
            raise ExpressionCompileError("RegexCapture requires string pattern")
        if not isinstance(group, int) or isinstance(group, bool) or group < 0:
            raise ExpressionCompileError("RegexCapture requires numeric group index")
        compiled = _validate_regex(pattern)
        if group > compiled.groups:
            return Lit(NULL)  # absent group -> Null (executor.rs:159-161)
        d = as_column(_as_cval(v).display())
        extracted = F.regexp_extract(d, pattern, group)
        # no-match -> Null (Spark's regexp_extract returns "" for both
        # no-match and an empty capture; rlike disambiguates the former)
        return CVal.from_string_col(F.when(d.rlike(pattern), extracted))

    if op == "boolean":
        _ensure_args(op, args, 1)
        v = compile_value(args[0], ctx)
        return _bool_result(v.truthy())

    if op == "string":
        _ensure_args(op, args, 1)
        v = compile_value(args[0], ctx)
        d = _as_cval(v).display()
        return Lit(STRING, s=d) if isinstance(d, str) else CVal.from_string_col(d)

    if op == "literal":
        _ensure_args(op, args, 1)
        return lit_from_json(args[0])

    if op == "tag":
        _ensure_args(op, args, 1)
        if not isinstance(args[0], str):
            raise ExpressionCompileError("Tag operator requires string argument")
        return ctx.tag(args[0])

    if op == "key":
        _ensure_args(op, args, 0)
        if ctx.key is None:
            return Lit(NULL)
        return CVal.from_string_col(ctx.key)

    if op == "type":
        _ensure_args(op, args, 0)
        if ctx.geom_type is None:
            return Lit(NULL)
        return CVal.from_string_col(ctx.geom_type)

    raise ExpressionCompileError(f"Unknown operator: {op}")


def _validate_regex(pattern: str):
    """Compile-time regex validation (invalid pattern -> compile error)."""
    try:
        return re.compile(pattern)
    except re.error as e:
        raise ExpressionCompileError(f"Invalid regex pattern '{pattern}': {e}") from e


def compile_bool(expr: Any, ctx: ColumnContext) -> Any:
    """Compile a DSL expression to its truthiness: a Python bool when it
    folds at compile time, else a boolean Column."""
    return _bool_val(compile_value(expr, ctx))


def compile_expr(expr: Any, ctx: ColumnContext) -> Column:
    """Compile a DSL expression to a boolean Column (evaluate_bool analog)."""
    return as_column(compile_bool(expr, ctx))


def validate_expr(expr: Any) -> None:
    """Driver-side structural validation WITHOUT building Columns.

    Same checks as compile (operator table, arity, regex validity, literal
    shape — expression_compiler.rs:330-350 + per-op argument rules); usable
    before any SparkSession exists (program load happens at CLI parse time,
    mirroring src/lib.rs:51-60).
    """
    if isinstance(expr, dict):
        raise ExpressionCompileError("Object expressions are not supported")
    if not isinstance(expr, list):
        lit_from_json(expr)
        return
    if not expr:
        raise ExpressionCompileError("Expression array cannot be empty")
    op = expr[0]
    if not isinstance(op, str):
        raise ExpressionCompileError("First element must be operator string")
    if op not in _KNOWN_OPS:
        raise ExpressionCompileError(f"Unknown operator: {op}")
    args = expr[1:]
    if op in ("==", "!=", "<", ">", "<=", ">="):
        _ensure_args(op, args, 2)
        validate_expr(args[0]); validate_expr(args[1])
    elif op in ("any", "all", "none"):
        for a in args:
            validate_expr(a)
    elif op in ("not", "!", "boolean", "string"):
        _ensure_args(op, args, 1)
        validate_expr(args[0])
    elif op in ("in", "not-in"):
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        inner = args[1]
        ok = isinstance(inner, list) and len(inner) == 2 and inner[0] == "literal" \
            and isinstance(inner[1], list)
        if not ok:
            raise ExpressionCompileError("In operator requires an array of values")
    elif op in ("starts-with", "ends-with"):
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError(f"{op} requires string argument")
    elif op == "regex-match":
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError("RegexMatch requires string pattern")
        _validate_regex(args[1])
    elif op == "regex-capture":
        if len(args) < 3:
            raise ExpressionCompileError(
                f"regex-capture: expected at least 3 arguments, got {len(args)}")
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError("RegexCapture requires string pattern")
        if not isinstance(args[2], int) or isinstance(args[2], bool) or args[2] < 0:
            raise ExpressionCompileError("RegexCapture requires numeric group index")
        _validate_regex(args[1])
    elif op == "literal":
        _ensure_args(op, args, 1)
        lit_from_json(args[0])
    elif op == "tag":
        _ensure_args(op, args, 1)
        if not isinstance(args[0], str):
            raise ExpressionCompileError("Tag operator requires string argument")
    elif op in ("key", "type"):
        _ensure_args(op, args, 0)


# ---------------------------------------------------------------------------
# Typed tag value: the MVT Value oneof analog as a Spark struct
# ---------------------------------------------------------------------------

VALUE_STRUCT_DDL = "struct<t:int,s:string,i:bigint,f:double,fs:string,b:boolean>"
