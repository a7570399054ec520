"""Strict-typed expression DSL compiled to SQL predicate text.

Re-expresses the reference's expression layer (otters ``src/expr.rs``) on
top of Catalyst. The *shape* of the DSL is identical —
``col("price").lt(lit(50.0)) & col("version").gte(lit(2))`` — but the
execution is pure Spark: the compiled output is SQL text (and the same
text as a ``pyspark.sql.Column``) that Catalyst will push into the
Parquet scan (zonemap/row-group pruning, bloom-filter pruning and
row-level filtering all come from the scan pushdown, replacing
src/meta.rs:405-544 and src/meta_compute.rs:194-318).

What we deliberately re-implement (Catalyst would silently coerce):
the reference's strict, non-coercive typing rules (src/expr.rs:385-466):

* string columns: only ``==`` / ``!=`` (src/expr.rs:400-419)
* int columns: integer literals only; a float literal is an error, never
  truncated (src/expr.rs:420-432)
* float columns: int literals widen to float (src/expr.rs:452-464)
* datetime columns: only datetime *strings* in the ingest formats;
  numeric literals rejected (src/expr.rs:433-451, src/col.rs:506-545)
* comparisons must be ``col CMP lit`` — literal-on-left, col-vs-col,
  bare column / bare literal are errors (src/expr.rs:370,391-394)
* there is no NOT operator (src/expr.rs:104-105)

Compilation also lowers the tree to CNF (AND of OR-clauses) with
OR-distribution and tautology detection (src/expr.rs:285-511) — Spark
does not need CNF to evaluate correctly, but we keep the normalized plan
for introspection/tests and parity with the reference's compile step.

NULL semantics: a predicate never matches a NULL row — identical to SQL
three-valued logic, so plain Spark ``filter`` agrees by construction
(src/type_utils.rs:329-443).

Divergence note: the reference *drops* a tautological clause
(``x==v OR x!=v``) entirely, which would let NULL rows through that
clause; we keep SQL 3VL (NULLs still excluded) and only record the
tautology in the normalized plan. See SURVEY.md §2.3(3).
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass
from typing import Any, Union

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from .errors import (
    DateTimeParseError,
    InvalidComparisonError,
    InvalidExpressionError,
    TypeMismatchError,
    UnknownColumnError,
    UnsupportedStringOpError,
)

__all__ = [
    "col", "lit", "Expr", "CompiledFilter", "compile_expr", "SchemaLike", "sql_literal",
    "quote_ident",
]

_CMP_OPS = ("eq", "neq", "lt", "lte", "gt", "gte")
_STR_OPS = ("contains", "starts_with", "ends_with", "fuzzy")

# otters dtype names (src/type_utils.rs:11-19) keyed by Spark type class.
_SPARK_TO_DTYPE = {
    T.IntegerType: "int32",
    T.LongType: "int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.StringType: "string",
    T.TimestampType: "datetime",
    T.TimestampNTZType: "datetime",
    T.DateType: "datetime",
}

SchemaLike = Union[T.StructType, dict]


def _schema_dtypes(schema: SchemaLike) -> dict[str, str]:
    """Normalize a StructType or {name: dtype-str} dict to otters dtypes."""
    if isinstance(schema, dict):
        out = {}
        for name, dt in schema.items():
            if isinstance(dt, str):
                out[name] = dt
            else:
                out[name] = _SPARK_TO_DTYPE.get(type(dt), "unsupported")
        return out
    out = {}
    for field in schema.fields:
        out[field.name] = _SPARK_TO_DTYPE.get(type(field.dataType), "unsupported")
    return out


# --- datetime literal parsing (src/col.rs:506-545, src/expr.rs:267-283) ---


def parse_datetime_literal(s: str, fmt: str | None = None) -> _dt.datetime:
    """Parse a datetime string the way the reference ingests them.

    Accepted (src/col.rs:506-527): RFC 3339 / ISO 8601 (with offset or Z),
    ``YYYY-MM-DD`` (midnight UTC), ``YYYY-MM-DD HH:MM:SS`` (UTC), or an
    explicit strftime format. Returns a *naive UTC* datetime (Spark
    timestamps are session-tz naive; the engine pins session tz to UTC).
    Unparseable input is a hard error (src/col.rs:524-526).
    """
    if fmt is not None:
        try:
            out = _dt.datetime.strptime(s, fmt)
        except (ValueError, TypeError) as e:
            raise DateTimeParseError(f"cannot parse {s!r} with format {fmt!r}: {e}") from None
        return _to_naive_utc(out)
    try:
        out = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
        return _to_naive_utc(out)
    except ValueError:
        pass
    for f in ("%Y-%m-%d", "%Y-%m-%d %H:%M:%S"):
        try:
            return _dt.datetime.strptime(s, f)
        except ValueError:
            continue
    raise DateTimeParseError(f"cannot parse datetime literal {s!r}")


def _to_naive_utc(d: _dt.datetime) -> _dt.datetime:
    if d.tzinfo is not None:
        return d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return d


# --- DSL nodes -------------------------------------------------------------


class Expr:
    """Expression-tree node. Build with :func:`col` / :func:`lit`, combine
    with ``.eq/.neq/.lt/.lte/.gt/.gte`` and ``&`` / ``|``
    (reference DSL: src/expr.rs:109-190)."""

    kind: str  # 'col' | 'lit' | 'cmp' | 'and' | 'or'

    def __init__(self, kind: str, **kw: Any):
        self.kind = kind
        self.__dict__.update(kw)

    # comparison builders — right side may be a lit() Expr or a raw value
    def _cmp(self, op: str, other: Any) -> "Expr":
        other = other if isinstance(other, Expr) else lit(other)
        return Expr("cmp", op=op, left=self, right=other)

    def eq(self, other: Any) -> "Expr":
        return self._cmp("eq", other)

    def neq(self, other: Any) -> "Expr":
        return self._cmp("neq", other)

    def lt(self, other: Any) -> "Expr":
        return self._cmp("lt", other)

    def lte(self, other: Any) -> "Expr":
        return self._cmp("lte", other)

    def gt(self, other: Any) -> "Expr":
        return self._cmp("gt", other)

    def gte(self, other: Any) -> "Expr":
        return self._cmp("gte", other)

    # string predicates — the reference's named roadmap items
    # (reference README.md:210: "contains, starts_with, ends_with");
    # strict-typed like everything else: string columns + string
    # literals only, checked at compile
    def contains(self, other: Any) -> "Expr":
        return self._cmp("contains", other)

    def starts_with(self, other: Any) -> "Expr":
        return self._cmp("starts_with", other)

    def ends_with(self, other: Any) -> "Expr":
        return self._cmp("ends_with", other)

    def fuzzy_eq(self, other: Any, max_edits: int = 2) -> "Expr":
        """Edit-distance match — the roadmap's "or fuzzy matching"
        (reference README.md:210): true when the column is within
        ``max_edits`` Levenshtein edits of the literal. Compiles to
        ``levenshtein(col, lit) <= k`` (JVM codegen). Unlike the exact
        string ops this cannot push to the Parquet scan — it prunes
        nothing, by design."""
        if isinstance(max_edits, bool) or not isinstance(max_edits, int):
            raise TypeMismatchError(
                f"max_edits must be an int, got {type(max_edits).__name__}"
            )
        if max_edits < 0:
            raise TypeMismatchError(f"max_edits must be >= 0, got {max_edits}")
        other = other.value if isinstance(other, Expr) and other.kind == "lit" else other
        # the (literal, max_edits) pair bypasses lit()'s scalar check;
        # _compile_leaf strict-types the inner literal
        return Expr(
            "cmp", op="fuzzy", left=self, right=Expr("lit", value=(other, max_edits))
        )

    # python operator sugar (same surface as pyspark Columns)
    __eq__ = eq  # type: ignore[assignment]
    __ne__ = neq  # type: ignore[assignment]
    __lt__ = lt
    __le__ = lte
    __gt__ = gt
    __ge__ = gte

    def __and__(self, other: "Expr") -> "Expr":
        return Expr("and", left=self, right=_require_expr(other, "&"))

    def __or__(self, other: "Expr") -> "Expr":
        return Expr("or", left=self, right=_require_expr(other, "|"))

    # no __invert__: the reference has no NOT (src/expr.rs:104-105)

    __hash__ = None  # type: ignore[assignment]

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        k = self.kind
        if k == "col":
            return f"col({self.name!r})"
        if k == "lit":
            return f"lit({self.value!r})"
        if k == "cmp":
            return f"({self.left!r} {self.op} {self.right!r})"
        return f"({self.left!r} {'&' if k == 'and' else '|'} {self.right!r})"

    def compile(self, schema: SchemaLike, datetime_fmt: dict[str, str] | None = None) -> "CompiledFilter":
        return compile_expr(self, schema, datetime_fmt)


def _require_expr(x: Any, op: str) -> Expr:
    if not isinstance(x, Expr):
        raise InvalidExpressionError(f"operand of {op} must be an Expr, got {type(x).__name__}")
    return x


def col(name: str) -> Expr:
    """Column reference (src/expr.rs:109-117)."""
    return Expr("col", name=name)


def lit(value: Any) -> Expr:
    """Literal: int, float, str, or datetime (src/expr.rs:119-160)."""
    if isinstance(value, Expr):
        return value
    if not isinstance(value, (bool, int, float, str, _dt.datetime, _dt.date)):
        # bools are accepted here and rejected with TypeMismatch at
        # compile time (strict typing, src/expr.rs:420-432)
        raise InvalidExpressionError(f"unsupported literal type {type(value).__name__}")
    return Expr("lit", value=value)


# --- compiled output -------------------------------------------------------


@dataclass(frozen=True)
class ColumnFilter:
    """One typed CNF leaf: ``column OP value`` (reference ColumnFilter,
    src/expr.rs:222-240). ``value`` is the coerced Python literal."""

    column: str
    op: str  # one of _CMP_OPS or _STR_OPS
    value: Any
    dtype: str


@dataclass
class CompiledFilter:
    """Result of compiling an :class:`Expr` against a schema.

    ``sql`` is the predicate as SQL text, each literal typed to its
    column; the plan API puts it in its one SQL statement, and Catalyst
    handles pushdown/pruning. ``condition`` is the same text as a Spark
    Column (``F.expr``), for ``df.filter``; type checking, CNF lowering
    and the text are session-free. ``plan`` is the reference-parity
    CNF: a list of AND-clauses, each a list of OR'd leaves
    (src/expr.rs:220-226). ``dropped_tautologies`` counts clauses the
    reference would have removed (src/expr.rs:300-343).
    """

    plan: list[list[ColumnFilter]]
    dropped_tautologies: int
    sql: str

    @property
    def condition(self) -> Column:
        return F.expr(self.sql)


def compile_expr(
    expr: Expr,
    schema: SchemaLike,
    datetime_fmt: dict[str, str] | None = None,
) -> CompiledFilter:
    """Type-check + lower to CNF + render the predicate as SQL text.

    Mirrors ``Expr::compile`` (src/expr.rs:285-343): leaves are
    type-checked against the schema with the strict rules of SURVEY §2.3,
    the tree is lowered to CNF with OR-distribution, and tautological
    clauses are detected. Raises subclasses of ``ExprError``.
    """
    if not isinstance(expr, Expr):
        raise InvalidExpressionError(f"expected Expr, got {type(expr).__name__}")
    if expr.kind in ("col", "lit"):
        raise InvalidExpressionError(
            "bare column/literal is not a boolean expression (src/expr.rs:370)"
        )
    dtypes = _schema_dtypes(schema)
    fmts = datetime_fmt or {}
    # eager type-check + CNF lowering (raises ExprError on violations)
    plan = _lower_to_plan(expr, dtypes, fmts)
    normalized, dropped = _normalize_plan(plan)
    return CompiledFilter(
        plan=normalized, dropped_tautologies=dropped, sql=_to_sql(expr, dtypes, fmts)
    )


def _compile_leaf(node: Expr, dtypes: dict[str, str], fmts: dict[str, str]) -> ColumnFilter:
    """Type-check one comparison (reference compile_cmp_leaf,
    src/expr.rs:385-466)."""
    left, right, op = node.left, node.right, node.op
    if left.kind != "col" or right.kind != "lit":
        raise InvalidComparisonError(
            "comparisons must be of the form col(...) CMP lit(...) (src/expr.rs:391-394)"
        )
    name = left.name
    if name not in dtypes:
        raise UnknownColumnError(f"unknown column {name!r} (src/expr.rs:396-398)")
    dtype = dtypes[name]
    v = right.value

    if op in _STR_OPS and dtype != "string":
        raise TypeMismatchError(
            f"{op} applies only to string columns, not {name!r} ({dtype})"
        )

    if dtype == "string":
        if op not in ("eq", "neq", *_STR_OPS):
            raise UnsupportedStringOpError(
                f"string column {name!r} supports only ==/!=/contains/"
                "starts_with/ends_with/fuzzy_eq (src/expr.rs:400-419 + README.md:210)"
            )
        if op == "fuzzy":
            s, k = v
            if not isinstance(s, str):
                raise TypeMismatchError(
                    f"string column {name!r} vs {type(s).__name__} literal"
                )
            return ColumnFilter(name, op, (s, k), dtype)
        if not isinstance(v, str):
            raise TypeMismatchError(f"string column {name!r} vs {type(v).__name__} literal")
        return ColumnFilter(name, op, v, dtype)

    if dtype in ("int32", "int64"):
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeMismatchError(
                f"int column {name!r} requires an integer literal, got "
                f"{type(v).__name__} (no truncation; src/expr.rs:420-432)"
            )
        return ColumnFilter(name, op, v, dtype)

    if dtype in ("float32", "float64"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeMismatchError(f"float column {name!r} vs {type(v).__name__} literal")
        if isinstance(v, float) and math.isnan(v):
            raise TypeMismatchError(f"NaN literal not comparable against column {name!r}")
        return ColumnFilter(name, op, float(v), dtype)

    if dtype == "datetime":
        if isinstance(v, (_dt.datetime, _dt.date)):
            d = v if isinstance(v, _dt.datetime) else _dt.datetime(v.year, v.month, v.day)
            return ColumnFilter(name, op, _to_naive_utc(d), dtype)
        if isinstance(v, str):
            return ColumnFilter(name, op, parse_datetime_literal(v, fmts.get(name)), dtype)
        raise TypeMismatchError(
            f"datetime column {name!r} requires a datetime string literal, got "
            f"{type(v).__name__} (src/expr.rs:433-451)"
        )

    raise TypeMismatchError(f"column {name!r} has unsupported dtype for predicates")


def sql_literal(v: Any, dtype: str | None = None) -> str:
    """SQL text of one literal, typed as ``F.lit(v)`` would type it (so
    a predicate analyses to the same expression and pushes the same
    filters), or as ``dtype`` says: ``"int64"`` gives a BIGINT
    (``…L``) literal, ``"float32"``/``"float64"`` a DOUBLE. Doubles are
    bit-exact (NaN and ±∞ as string casts); datetimes are naive UTC
    TIMESTAMP literals (the session zone is UTC); strings escape quotes
    and backslashes, and braces as ``\\u007B``/``\\u007D`` so no literal
    can hold a statement's ``{base}`` placeholder."""
    if v is None:
        return "CAST(NULL AS DOUBLE)" if dtype in ("float32", "float64") else "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if dtype in ("float32", "float64") or isinstance(v, float):
        x = float(v)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
        return f"{x!r}D"
    if isinstance(v, int):
        return f"{v}L" if dtype == "int64" else str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        body = v.replace("\\", "\\\\").replace("'", "\\'")
        return "'" + body.replace("{", "\\u007B").replace("}", "\\u007D") + "'"
    raise InvalidExpressionError(f"unsupported literal type {type(v).__name__}")


def quote_ident(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


# ``col OP lit`` as SQL; Catalyst lowers contains/startswith/endswith
# to StringContains/StartsWith/EndsWith, all pushable to the Parquet
# scan; fuzzy (levenshtein) is not scan-pushable (see Expr.fuzzy_eq)
_LEAF_SQL = {
    "eq": "({c} = {v})",
    "neq": "({c} != {v})",
    "lt": "({c} < {v})",
    "lte": "({c} <= {v})",
    "gt": "({c} > {v})",
    "gte": "({c} >= {v})",
    "contains": "contains({c}, {v})",
    "starts_with": "startswith({c}, {v})",
    "ends_with": "endswith({c}, {v})",
    "fuzzy": "(levenshtein({c}, {v}) <= {k})",
}


def _leaf_sql(leaf: ColumnFilter) -> str:
    c = quote_ident(leaf.column)
    if leaf.op == "fuzzy":
        s, k = leaf.value
        return _LEAF_SQL["fuzzy"].format(c=c, v=sql_literal(s), k=int(k))
    return _LEAF_SQL[leaf.op].format(c=c, v=sql_literal(leaf.value, leaf.dtype))


def _to_sql(node: Expr, dtypes: dict[str, str], fmts: dict[str, str]) -> str:
    """The predicate as SQL text, in the tree's own AND/OR shape (the
    CNF in ``plan`` is for introspection only)."""
    if node.kind == "cmp":
        return _leaf_sql(_compile_leaf(node, dtypes, fmts))
    if node.kind in ("and", "or"):
        op = " AND " if node.kind == "and" else " OR "
        return "(" + _to_sql(node.left, dtypes, fmts) + op + _to_sql(node.right, dtypes, fmts) + ")"
    raise InvalidExpressionError(
        "bare column/literal is not a boolean expression (src/expr.rs:370)"
    )


def _lower_to_plan(
    node: Expr, dtypes: dict[str, str], fmts: dict[str, str]
) -> list[list[ColumnFilter]]:
    """Lower to CNF: AND concatenates clause lists; OR distributes
    (cross-product of clauses) (src/expr.rs:355-372,468-511)."""
    if node.kind == "cmp":
        return [[_compile_leaf(node, dtypes, fmts)]]
    if node.kind == "and":
        return _lower_to_plan(node.left, dtypes, fmts) + _lower_to_plan(node.right, dtypes, fmts)
    if node.kind == "or":
        lp = _lower_to_plan(node.left, dtypes, fmts)
        rp = _lower_to_plan(node.right, dtypes, fmts)
        return [lc + rc for lc in lp for rc in rp]
    raise InvalidExpressionError(
        "bare column/literal is not a boolean expression (src/expr.rs:370)"
    )


def _normalize_plan(
    plan: list[list[ColumnFilter]],
) -> tuple[list[list[ColumnFilter]], int]:
    """Detect tautological clauses (``x==v`` OR ``x!=v`` in one clause,
    src/expr.rs:300-343). The reference drops them; we count + drop from
    the *introspection* plan only (the Spark condition keeps SQL 3VL)."""
    out: list[list[ColumnFilter]] = []
    dropped = 0
    for clause in plan:
        eqs = {(l.column, _freeze(l.value)) for l in clause if l.op == "eq"}
        neqs = {(l.column, _freeze(l.value)) for l in clause if l.op == "neq"}
        if eqs & neqs:
            dropped += 1
            continue
        out.append(clause)
    return out, dropped


def _freeze(v: Any) -> Any:
    return v if not isinstance(v, float) else ("f", v)
