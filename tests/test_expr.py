"""Port of the reference's expression-compiler tests
(/root/reference/tests/expr_tests.rs) against the strict-typing +
CNF-lowering layer. Pure Python — no SparkSession needed for plan-shape
tests (the Spark Column is built lazily enough that compile works
without an active session... actually pyspark Columns need no session)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from otters_spark.expr import col, compile_expr, lit, parse_datetime_literal
from otters_spark.errors import (
    DateTimeParseError,
    InvalidComparisonError,
    InvalidExpressionError,
    TypeMismatchError,
    UnknownColumnError,
    UnsupportedStringOpError,
)

SCHEMA = {
    "age": "int32",
    "score": "float64",
    "name": "string",
    "created": "datetime",
}


def plan_shape(compiled):
    return [len(clause) for clause in compiled.plan]


# --- CNF shape (expr_tests.rs:133-161) ---


def test_and_two_clauses():
    c = compile_expr(col("age").gt(5) & col("score").lt(2.0), SCHEMA)
    assert plan_shape(c) == [1, 1]


def test_or_one_clause_two_leaves():
    c = compile_expr(col("age").gt(5) | col("age").lt(2), SCHEMA)
    assert plan_shape(c) == [2]


def test_or_distribution():
    # A & (B | C) -> two clauses after distribution (expr_tests.rs:149-161)
    c = compile_expr(col("age").gt(5) & (col("score").lt(2.0) | col("score").gt(9.0)), SCHEMA)
    assert plan_shape(c) == [1, 2]


def test_nested_or_distribution():
    # (A | B) & (C | D) -> 1 clause of 2x... cross product = clauses of 2 leaves
    c = compile_expr(
        (col("age").gt(5) | col("age").lt(2)) & (col("score").lt(2.0) | col("score").gt(9.0)),
        SCHEMA,
    )
    assert plan_shape(c) == [2, 2]


def test_tautology_removed():
    # col==v OR col!=v dropped (expr_tests.rs:202-208)
    c = compile_expr(col("name").eq("a") | col("name").neq("a"), SCHEMA)
    assert c.plan == []
    assert c.dropped_tautologies == 1


# --- strict typing (expr_tests.rs:81-116, 171-199) ---


def test_string_ordering_rejected():
    with pytest.raises(UnsupportedStringOpError):
        compile_expr(col("name").lt("zzz"), SCHEMA)


def test_int_float_literal_rejected():
    with pytest.raises(TypeMismatchError):
        compile_expr(col("age").gt(25.5), SCHEMA)


def test_int_bool_literal_rejected():
    with pytest.raises(TypeMismatchError):
        compile_expr(col("age").eq(True), SCHEMA)


def test_float_int_literal_widens():
    c = compile_expr(col("score").gte(2), SCHEMA)
    leaf = c.plan[0][0]
    assert leaf.value == 2.0 and isinstance(leaf.value, float)


def test_unknown_column():
    with pytest.raises(UnknownColumnError):
        compile_expr(col("nope").eq(1), SCHEMA)


def test_literal_on_left_rejected():
    with pytest.raises(InvalidComparisonError):
        compile_expr(lit(5).gt(col("age")), SCHEMA)


def test_col_vs_col_rejected():
    with pytest.raises(InvalidComparisonError):
        compile_expr(col("age").gt(col("score")), SCHEMA)


def test_bare_column_rejected():
    with pytest.raises(InvalidExpressionError):
        compile_expr(col("age"), SCHEMA)


def test_datetime_numeric_literal_rejected():
    with pytest.raises(TypeMismatchError):
        compile_expr(col("created").gt(1700000000), SCHEMA)


def test_datetime_string_parses_to_timestamp():
    # expr_tests.rs:171-190: datetime literal -> epoch millis
    c = compile_expr(col("created").gte("2024-01-02"), SCHEMA)
    assert c.plan[0][0].value == dt.datetime(2024, 1, 2)
    c2 = compile_expr(col("created").gte("2024-01-02 03:04:05"), SCHEMA)
    assert c2.plan[0][0].value == dt.datetime(2024, 1, 2, 3, 4, 5)
    c3 = compile_expr(col("created").gte("2024-01-02T03:04:05Z"), SCHEMA)
    assert c3.plan[0][0].value == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_datetime_bad_string():
    with pytest.raises(DateTimeParseError):
        compile_expr(col("created").gte("not a date"), SCHEMA)


def test_datetime_custom_format():
    v = parse_datetime_literal("02/01/2024", "%d/%m/%Y")
    assert v == dt.datetime(2024, 1, 2)
    with pytest.raises(DateTimeParseError):
        parse_datetime_literal("2024-01-02", "%d/%m/%Y")


def test_datetime_offset_normalized_to_utc():
    c = compile_expr(col("created").eq("2024-01-02T03:04:05+02:00"), SCHEMA)
    assert c.plan[0][0].value == dt.datetime(2024, 1, 2, 1, 4, 5)


class TestStringPredicates:
    """Reference roadmap items (README.md:210): contains/starts_with/
    ends_with, with the DSL's strict typing."""

    def test_string_predicate_filtering(self, spark):
        from otters_spark import MetaStore, col

        rows = [(0, [1.0], "alpha"), (1, [1.0], "beta"), (2, [1.0], "alphabet")]
        store = MetaStore.from_df(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>, name string"),
            vec_col="embedding",
        )

        def ids(expr):
            return sorted(
                r["vec_id"]
                for r in store.query([1.0], "dot").meta_filter(expr).take(None).collect()
            )

        assert ids(col("name").starts_with("alpha")) == [0, 2]
        assert ids(col("name").ends_with("a")) == [0, 1]
        assert ids(col("name").contains("phab")) == [2]
        assert ids(col("name").contains("zz")) == []

    def test_strict_typing(self):
        import pytest as _pytest

        from otters_spark.errors import TypeMismatchError
        from otters_spark.expr import col, compile_expr

        schema = {"name": "string", "n": "int64"}
        with _pytest.raises(TypeMismatchError):
            compile_expr(col("n").contains("5"), schema)  # not a string column
        with _pytest.raises(TypeMismatchError):
            compile_expr(col("name").contains(5), schema)  # not a string literal

    def test_fuzzy_eq_filtering(self, spark):
        """Roadmap's 'or fuzzy matching': Levenshtein threshold."""
        from otters_spark import MetaStore, col

        rows = [(0, [1.0], "alpha"), (1, [1.0], "alphq"), (2, [1.0], "omega")]
        store = MetaStore.from_df(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>, name string"),
            vec_col="embedding",
        )

        def ids(expr):
            return sorted(
                r["vec_id"]
                for r in store.query([1.0], "dot").meta_filter(expr).take(None).collect()
            )

        assert ids(col("name").fuzzy_eq("alpha", 0)) == [0]
        assert ids(col("name").fuzzy_eq("alpha", 1)) == [0, 1]
        assert ids(col("name").fuzzy_eq("alpha", 5)) == [0, 1, 2]

    def test_fuzzy_eq_strict_typing(self):
        import pytest as _pytest

        from otters_spark.errors import TypeMismatchError
        from otters_spark.expr import col, compile_expr

        schema = {"name": "string", "n": "int64"}
        with _pytest.raises(TypeMismatchError):
            compile_expr(col("n").fuzzy_eq("5", 1), schema)  # not a string column
        with _pytest.raises(TypeMismatchError):
            compile_expr(col("name").fuzzy_eq(5, 1), schema)  # not a string literal
        with _pytest.raises(TypeMismatchError):
            col("name").fuzzy_eq("x", max_edits=-1)
        with _pytest.raises(TypeMismatchError):
            col("name").fuzzy_eq("x", max_edits=1.5)

    def test_pushes_to_scan(self, spark, sf_dir, tmp_path):
        from otters_spark import MetaStore, col

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        store = MetaStore.from_df(
            emb.withColumn("tag", F.concat(F.lit("t"), F.col("label"))),
            vec_col="embedding", id_col="vec_id",
        )
        path = str(tmp_path / "strstore")
        store.save(path)
        loaded = MetaStore.load(spark, path)
        df = (
            loaded.query([0.0] * 64, "dot").meta_filter(col("tag").starts_with("t1"))
            .take(5).df()
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "StringStartsWith(tag,t1)" in plan.replace(" ", "").replace("[", "(").replace("]", ")") or "StartsWith" in plan


# --- the predicate as SQL text: every leaf op × dtype, adversarial literals ---

_INF = float("inf")
_ADV_SCHEMA = (
    "vec_id long, embedding array<float>, i32 int, i64 long, f32 float, f64 double, "
    "s string, ts timestamp, d date"
)
_ADV_ROWS = [
    (0, [1.0], -2**31, -2**63, -_INF, -_INF, "it's", dt.datetime(1969, 7, 20, 20, 17, 40, 123456),
     dt.date(1969, 12, 31)),
    (1, [1.0], 2**31 - 1, 2**63 - 1, _INF, _INF, "back\\slash", dt.datetime(1970, 1, 1),
     dt.date(1970, 1, 1)),
    (2, [1.0], 0, 0, 0.0, 0.0, "{}", dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.date(2024, 1, 2)),
    (3, [1.0], 7, 7, 1.5, 0.1, "über 漢字 😀", dt.datetime(1900, 1, 1), dt.date(1900, 1, 1)),
    (4, [1.0], None, None, None, None, None, None, None),
    (5, [1.0], -1, -1, -0.5, 2.5, "", dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
     dt.date(2000, 2, 29)),
    (6, [1.0], 1, 1, 0.1, 1e300, "{base}", dt.datetime(2038, 1, 19, 3, 14, 8), dt.date(1969, 7, 20)),
    (7, [1.0], 2, 2, 2.0, -0.0, "a\nb'\\}{", dt.datetime(1969, 7, 20, 20, 17, 40, 123457),
     dt.date(2038, 1, 19)),
]
_ADV_LITERALS = {
    "i32": [-2**31, 2**31 - 1, 0, 7, 3_000_000_000],
    "i64": [-2**63, 2**63 - 1, 7, -1],
    "f32": [-_INF, _INF, 1.5, 0.1, 2],
    "f64": [-_INF, _INF, 0.1, -0.0, 2.5],
    "s": ["it's", "'", "\\", "back\\slash", "{}", "}{", "{base}", "über 漢字 😀", "",
          "a\nb'\\}{", "漢"],
    "ts": ["1969-07-20 20:17:40.123456", "1970-01-01", "2024-01-02T03:04:05.000006Z"],
    "d": ["1969-12-31", "2024-01-02 00:00:00"],
}
_STRING_OPS = {
    "eq": lambda v, x: v == x,
    "neq": lambda v, x: v != x,
    "contains": lambda v, x: x in v,
    "starts_with": lambda v, x: v.startswith(x),
    "ends_with": lambda v, x: v.endswith(x),
}
_ORDER_OPS = {
    "eq": lambda v, x: v == x,
    "neq": lambda v, x: v != x,
    "lt": lambda v, x: v < x,
    "lte": lambda v, x: v <= x,
    "gt": lambda v, x: v > x,
    "gte": lambda v, x: v >= x,
}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _adversarial_leaves():
    """(expr, python predicate over a row dict) for every leaf op ×
    dtype × adversarial literal."""
    out = []
    for name, lits in _ADV_LITERALS.items():
        for x in lits:
            if name == "s":
                ops = dict(_STRING_OPS, fuzzy=lambda v, x: _levenshtein(v, x) <= 1)
            else:
                ops = _ORDER_OPS
            for op, fn in ops.items():
                if op == "fuzzy":
                    expr = col(name).fuzzy_eq(x, 1)
                else:
                    expr = col(name)._cmp(op, x)
                want = x
                if name in ("ts", "d"):
                    want = parse_datetime_literal(x)
                out.append((expr, name, fn, want))
    return out


def _py_leaf(row, name, fn, want) -> bool:
    v = row[name]
    if v is None:
        return False
    if name == "d":  # a date compares as its midnight timestamp
        v = dt.datetime(v.year, v.month, v.day)
    return bool(fn(v, want))


def test_predicate_sql_matches_python_on_adversarial_literals(spark):
    """The predicate text (``CompiledFilter.sql``) selects exactly the
    rows a Python evaluation selects, for every leaf op and column type:
    quotes, backslashes, braces, newlines and unicode in strings, ±∞ on
    float columns, int32/int64 extremes and out-of-range literals,
    pre-1970 timestamps with microseconds. One action evaluates all the
    predicates; the brace and quote literals also run through the plan
    API's statement, whose ``{base}`` placeholder no literal may hold."""
    from otters_spark import MetaStore

    df = spark.createDataFrame(_ADV_ROWS, _ADV_SCHEMA)
    store = MetaStore.from_df(df, vec_col="embedding", id_col="vec_id")
    leaves = _adversarial_leaves()
    compiled = [compile_expr(expr, store.schema) for expr, *_ in leaves]
    sel = [F.coalesce(c.condition, F.lit(False)).alias(f"p{i}") for i, c in enumerate(compiled)]
    got = {r["vec_id"]: r for r in df.select("vec_id", *sel).collect()}
    rows = [r.asDict() for r in df.collect()]
    mismatches = []
    for i, (expr, name, fn, want) in enumerate(leaves):
        for row in rows:
            if bool(got[row["vec_id"]][f"p{i}"]) != _py_leaf(row, name, fn, want):
                mismatches.append((repr(expr), row["vec_id"], compiled[i].sql))
    assert not mismatches, mismatches[:5]

    for expr, name, fn, want in leaves:
        if expr.op in ("eq", "contains") and name == "s" and any(ch in want for ch in "{}'\\"):
            ids = sorted(
                r["vec_id"]
                for r in store.query([1.0], "dot").meta_filter(expr).take(None).collect()
            )
            assert ids == [r["vec_id"] for r in rows if _py_leaf(r, name, fn, want)], expr
