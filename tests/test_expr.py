"""Expression DSL semantics: Spark compiler vs reference behavior.

Ports every test from /root/reference/src/filtering/executor.rs:311-545 and
expression_compiler.rs:353-435, evaluated three ways: the pure-Python oracle,
the Catalyst compiler over a typed tag map, and (where applicable) the
compiler over string tags. Plus hypothesis property tests oracle-vs-Spark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import expr as E
from tests.oracle import expr_oracle as O


def oracle_ctx():
    """The fixture context from executor.rs:252-309."""
    return O.Context(
        properties={
            "name": ("string", "Central Park"),
            "kind": ("string", "park"),
            "area": ("float", "3.41"),
            "public": ("bool", True),
            "capacity": ("number", 1000),
        },
        current_key="name:en",
        geometry_type="Polygon",
    )


# (expression, expected) — every behavioral assertion in the reference tests
REFERENCE_CASES = [
    (["==", ["tag", "kind"], "park"], True),
    (["!=", ["tag", "kind"], "school"], True),
    ([">", ["tag", "capacity"], 500], True),
    (["<", ["tag", "area"], 5.0], True),
    (["any", ["==", ["tag", "kind"], "school"], ["==", ["tag", "kind"], "park"]], True),
    (["all", ["==", ["tag", "kind"], "park"], [">", ["tag", "capacity"], 100]], True),
    (["!", ["==", ["tag", "kind"], "school"]], True),
    (["in", ["tag", "kind"], ["literal", ["park", "school", "hospital"]]], True),
    (["!", ["in", ["tag", "kind"], ["literal", ["school", "hospital"]]]], True),
    (["in", None, ["literal", [None, "school", "hospital"]]], True),
    (["starts-with", ["tag", "name"], "Central"], True),
    (["ends-with", ["tag", "name"], "Park"], True),
    (["regex-match", ["tag", "name"], "^Central.*Park$"], True),
    (["starts-with", ["key"], "name:"], True),
    (["==", ["type"], "Polygon"], True),
    (["boolean", ["tag", "public"]], True),
    (["==", ["tag", "nonexistent"], "value"], False),
    (
        ["all", ["==", ["tag", "kind"], "park"], ["boolean", ["tag", "public"]],
         ["any", [">", ["tag", "capacity"], 500], [">", ["tag", "area"], 2.0]]],
        True,
    ),
    # regex-capture returning a value, used as truthy ("Central" != "")
    (["==", ["regex-capture", ["tag", "name"], r"^(\w+)", 1], "Central"], True),
    # language keep-list over current_key (executor.rs:504-545) — key=name:en
    (
        ["all", ["starts-with", ["key"], "name"],
         ["not", ["in", ["regex-capture", ["key"], "^name:?(.*)$", 1], ["literal", ["", "ja"]]]]],
        True,
    ),
    # extra semantic edges (documented in SURVEY §1.2)
    (["==", 1, "1"], True),          # mixed types compare as strings
    (["==", ["tag", "capacity"], "1000"], True),  # number vs string -> display
    (["boolean", ["literal", 0.0]], False),       # "0.0" falsy (json keeps .0)
    (["boolean", ["tag", "area"]], True),
    (["starts-with", ["tag", "missing"], "nu"], True),  # Null -> "null"
    (["in", ["tag", "capacity"], ["literal", ["1000"]]], False),  # in is exact-typed
    (["in", ["tag", "capacity"], ["literal", [1000]]], True),
    (["<", ["tag", "missing"], 0], True),  # null < everything
    (["any"], False),
    (["all"], True),
    (["none", ["==", ["tag", "kind"], "school"]], True),
    (["regex-capture", ["key"], "^nomatch(x)$", 1], False),  # Null falsy
    (["in", ["regex-capture", ["key"], "^nomatch(x)$", 1], ["literal", [None]]], True),
    # doc-parity ops (FILTERING.md:25-26; the reference impl rejects them)
    (["not-in", ["tag", "kind"], ["literal", ["school", "hospital"]]], True),
    (["not-in", ["tag", "kind"], ["literal", ["park"]]], False),
    (["not-in", ["tag", "capacity"], ["literal", ["1000"]]], True),  # exact-typed
    (["==", ["string", ["tag", "capacity"]], "1000"], True),
    (["==", ["string", ["tag", "missing"]], "null"], True),   # Null -> "null"
    (["==", ["string", ["literal", 2.0]], "2.0"], True),      # json keeps .0
    (["==", ["string", ["boolean", ["tag", "public"]]], "true"], True),
]

KEY_VARIANTS = [  # (current_key, expected) for the keep-list expression
    ("name:en", True),
    ("name:ja", False),
    ("name", False),
    ("pgf:name:ja", False),
]

KEEP_LIST = ["all", ["starts-with", ["key"], "name"],
             ["not", ["in", ["regex-capture", ["key"], "^name:?(.*)$", 1],
                      ["literal", ["", "ja"]]]]]


def test_oracle_reference_cases():
    ctx = oracle_ctx()
    for e, want in REFERENCE_CASES:
        assert O.evaluate_bool(e, ctx) == want, e
    for key, want in KEY_VARIANTS:
        c = oracle_ctx()
        c.current_key = key
        assert O.evaluate_bool(KEEP_LIST, c) == want, key


def test_compile_errors():
    ctx = E.ColumnContext()
    for bad in (
        [],
        ["=="],
        ["==", 1],
        ["unknown-op", 1, 2],
        ["regex-match", ["key"], "["],
        ["in", ["key"], "not-an-array"],
        [{"a": 1}],
        ["tag", 5],
        ["starts-with", ["key"], 7],
    ):
        with pytest.raises(E.ExpressionCompileError):
            E.compile_value(bad, ctx)


def test_rust_f64_display():
    assert O.rust_f64_display(2.0) == "2"
    assert O.rust_f64_display(3.41) == "3.41"
    assert O.rust_f64_display(0.0) == "0"
    assert O.rust_f64_display(-0.0) == "-0"
    assert O.rust_f64_display(1e20) == "100000000000000000000"
    assert O.rust_f64_display(1.5e-5) == "0.000015"


@pytest.mark.spark
def test_spark_reference_cases(spark):
    """One row per (case, key-variant), all expressions evaluated in one select."""
    tags = {
        "name": O.tv_string("Central Park"),
        "kind": O.tv_string("park"),
        "area": O.tv_float(3.41),
        "public": O.tv_bool(True),
        "capacity": O.tv_number(1000),
    }
    df = spark.createDataFrame(
        [(tags, "name:en", "Polygon")],
        f"tags {O.TYPED_TAGS_DDL}, cur_key string, geom_type string",
    )
    ctx = E.ColumnContext(
        tags=F.col("tags"), key=F.col("cur_key"), geom_type=F.col("geom_type"), typed=True
    )
    cols = [E.compile_expr(e, ctx).alias(f"c{i}") for i, (e, _) in enumerate(REFERENCE_CASES)]
    row = df.select(*cols).collect()[0]
    for i, (e, want) in enumerate(REFERENCE_CASES):
        assert row[f"c{i}"] == want, e

    kdf = spark.createDataFrame([(tags, k, "Polygon") for k, _ in KEY_VARIANTS],
                                f"tags {O.TYPED_TAGS_DDL}, cur_key string, geom_type string")
    out = kdf.select(F.col("cur_key"), E.compile_expr(KEEP_LIST, ctx).alias("r")).collect()
    got = {r.cur_key: r.r for r in out}
    for k, want in KEY_VARIANTS:
        assert got[k] == want, k


@pytest.mark.spark
def test_spark_string_tags(spark):
    """Graft data path: tags as map<string,string> (all values kind STRING)."""
    df = spark.createDataFrame(
        [({"kind": "park", "name": "Central Park", "name:ja": "中央公園"},)],
        "tags map<string,string>",
    )
    ctx = E.ColumnContext(tags=F.col("tags"))
    cases = [
        (["==", ["tag", "kind"], "park"], True),
        (["in", ["tag", "kind"], ["literal", ["park", "x"]]], True),
        (["in", ["tag", "kind"], ["literal", [1, 2]]], False),
        (["starts-with", ["tag", "missing"], "nu"], True),
        (["==", ["tag", "capacity"], "1000"], False),  # missing -> null != "1000"
        (["regex-match", ["tag", "name:ja"], "公園$"], True),
    ]
    row = df.select(*[E.compile_expr(e, ctx).alias(f"c{i}") for i, (e, _) in enumerate(cases)]).collect()[0]
    for i, (e, want) in enumerate(cases):
        assert row[f"c{i}"] == want, e


@pytest.mark.spark
def test_property_spark_matches_oracle(spark):
    """Randomized expressions x contexts: Catalyst result == oracle result."""
    import random

    rng = random.Random(1234)
    keys = ["a", "b", "c", "name", "name:ja", "kind"]
    strings = ["", "park", "x", "1", "1000", "true", "null", "0.0"]

    def rand_scalar():
        r = rng.random()
        if r < 0.25:
            return rng.choice(strings)
        if r < 0.45:
            return rng.randint(-3, 3)
        if r < 0.6:
            return rng.choice([0.0, 1.5, -2.25, 3.41, 2.0])
        if r < 0.75:
            return rng.choice([True, False])
        return None

    def rand_expr(depth=0):
        ops = ["==", "!=", "<", ">", "<=", ">=", "in", "not-in", "starts-with",
               "ends-with", "boolean", "string", "any", "all", "none", "not",
               "regex-capture", "regex-match"]
        if depth >= 3:
            return rng.choice([["tag", rng.choice(keys)], ["key"], ["type"], rand_scalar()])
        op = rng.choice(ops)
        sub = lambda: rand_expr(depth + 1)  # noqa: E731
        if op in ("==", "!=", "<", ">", "<=", ">="):
            return [op, sub(), sub()]
        if op == "string":
            return ["==", [op, sub()], rand_scalar()]
        if op in ("in", "not-in"):
            return [op, sub(), ["literal", [rand_scalar() for _ in range(rng.randint(0, 4))]]]
        if op in ("starts-with", "ends-with"):
            return [op, sub(), rng.choice(["p", "n", "1", "", "nu"])]
        if op == "regex-match":
            return [op, sub(), rng.choice(["^p", "k$", "[0-9]+", "^$"])]
        if op == "regex-capture":
            return ["==", [op, sub(), "^(.)(.*)$", rng.randint(1, 3)], rand_scalar()]
        if op in ("any", "all", "none"):
            return [op] + [sub() for _ in range(rng.randint(0, 3))]
        if op == "not":
            return [op, sub()]
        return ["boolean", sub()]

    def rand_tagval():
        r = rng.random()
        if r < 0.4:
            return ("string", rng.choice(strings))
        if r < 0.6:
            return ("number", rng.randint(-5, 5))
        if r < 0.8:
            return ("float", O.rust_f64_display(rng.choice([0.0, 1.5, -2.25, 2.0])))
        return ("bool", rng.random() < 0.5)

    def to_tv(v):
        k, p = v
        return {"string": lambda: O.tv_string(p), "number": lambda: O.tv_number(p),
                "float": lambda: O.tv_float(float(p)), "bool": lambda: O.tv_bool(p)}[k]()

    contexts = []
    for _ in range(6):
        props = {k: rand_tagval() for k in rng.sample(keys, rng.randint(0, len(keys)))}
        cur = rng.choice([None, "name", "name:ja", "a"])
        gt = rng.choice([None, "Point", "Polygon"])
        contexts.append((props, cur, gt))

    rows = [({k: to_tv(v) for k, v in props.items()}, cur, gt) for props, cur, gt in contexts]
    df = spark.createDataFrame(rows, f"tags {O.TYPED_TAGS_DDL}, cur_key string, geom_type string")
    ctx = E.ColumnContext(tags=F.col("tags"), key=F.col("cur_key"),
                          geom_type=F.col("geom_type"), typed=True)

    exprs, cols = [], []
    while len(exprs) < 120:
        e = rand_expr()
        try:
            cols.append(E.compile_expr(e, ctx).alias(f"c{len(exprs)}"))
            exprs.append(e)
        except E.ExpressionCompileError:
            continue

    got = df.select(*cols).collect()
    for ci, (props, cur, gt) in enumerate(contexts):
        octx = O.Context(dict(props), cur, gt)
        for i, e in enumerate(exprs):
            want = O.evaluate_bool(e, octx)
            assert got[ci][f"c{i}"] == want, (e, props, cur, gt)
