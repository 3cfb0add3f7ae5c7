"""Expression IR for the federation engine.

Mirrors the expression surface the reference's rewrite analyzer proves it can
relay (reference: datafusion-federation/src/sql/analyzer.rs:180-588 — every
DataFusion ``Expr`` variant), re-expressed as small Python nodes that know how
to render themselves two ways:

- ``to_sql(dialect)``  -> a SQL fragment for the pushdown path (the reference
  delegates this to DataFusion's Unparser; we own it — SURVEY.md §2B
  "Unparser" row).
- ``to_spark()``       -> a ``pyspark.sql.Column`` for the local path, so the
  residue of a federated plan executes on Catalyst/Tungsten (JVM-side,
  whole-stage codegen — no Python UDFs in this module).

Where the pyspark API has no counterpart (a higher-order call with a
lambda, a function pyspark does not expose, a DISTINCT aggregate other
than count/sum) ``to_spark()`` hands Spark SQL text to ``F.expr``. That
text comes from ``to_sql(get_dialect("spark"))``, the same dialect the
unparser uses for a Spark remote, so literals (decimals, bytes) and
IS [NOT] DISTINCT FROM read back as ``spark.sql`` reads them.

``conjuncts`` / ``and_all`` split and rebuild AND chains for every pass
that works conjunct by conjunct.

Scale note: every node compiles to built-in Spark SQL expressions, so plans
built from this IR stay inside whole-stage codegen and benefit from predicate
pushdown / column pruning at any data size.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dialects import get_dialect


class Expr:
    """Base expression node."""

    def children(self) -> Sequence["Expr"]:
        return ()

    # -- fluent sugar ------------------------------------------------------
    def alias(self, name: str) -> "Alias":
        return Alias(self, name)

    def asc(self, nulls_first: Optional[bool] = None) -> "SortKey":
        return SortKey(self, ascending=True, nulls_first=nulls_first)

    def desc(self, nulls_first: Optional[bool] = None) -> "SortKey":
        return SortKey(self, ascending=False, nulls_first=nulls_first)

    def cast(self, dtype: str) -> "Cast":
        return Cast(self, dtype)

    def between(self, lo: Any, hi: Any) -> "Between":
        return Between(self, _wrap(lo), _wrap(hi))

    def isin(self, *values: Any) -> "InList":
        return InList(self, [_wrap(v) for v in values])

    def like(self, pattern: str) -> "Like":
        return Like(self, Lit(pattern))

    def rlike(self, pattern: str) -> "SimilarTo":
        return SimilarTo(self, Lit(pattern))

    def is_null(self) -> "IsNull":
        return IsNull(self)

    def is_not_null(self) -> "IsNotNull":
        return IsNotNull(self)

    # -- operators ---------------------------------------------------------
    def _bin(self, op: str, other: Any, reverse: bool = False) -> "BinaryOp":
        other = _wrap(other)
        return BinaryOp(op, other, self) if reverse else BinaryOp(op, self, other)

    def __add__(self, o): return self._bin("+", o)
    def __radd__(self, o): return self._bin("+", o, True)
    def __sub__(self, o): return self._bin("-", o)
    def __rsub__(self, o): return self._bin("-", o, True)
    def __mul__(self, o): return self._bin("*", o)
    def __rmul__(self, o): return self._bin("*", o, True)
    def __truediv__(self, o): return self._bin("/", o)
    def __rtruediv__(self, o): return self._bin("/", o, True)
    def __mod__(self, o): return self._bin("%", o)
    def __eq__(self, o): return self._bin("=", o)  # type: ignore[override]
    def __ne__(self, o): return self._bin("<>", o)  # type: ignore[override]
    def __lt__(self, o): return self._bin("<", o)
    def __le__(self, o): return self._bin("<=", o)
    def __gt__(self, o): return self._bin(">", o)
    def __ge__(self, o): return self._bin(">=", o)
    def __and__(self, o): return self._bin("AND", o)
    def __or__(self, o): return self._bin("OR", o)
    def __invert__(self): return Not(self)
    def __neg__(self): return Negative(self)
    def __hash__(self):  # dataclass eq is overridden; keep hashability by id
        return id(self)

    # -- rendering (implemented per subclass) ------------------------------
    def to_sql(self, dialect) -> str:
        raise NotImplementedError(type(self).__name__)

    def to_spark(self) -> Column:
        raise NotImplementedError(type(self).__name__)

    def output_name(self) -> str:
        """Best-effort column name this expr produces (for schemas)."""
        return "expr"


def _wrap(v: Any) -> Expr:
    return v if isinstance(v, Expr) else Lit(v)


# ---------------------------------------------------------------------------
# Leaf expressions
# ---------------------------------------------------------------------------

@dataclass(eq=False)
class Col(Expr):
    """Column reference, optionally qualified (analyzer.rs:207-239)."""

    name: str
    table: Optional[str] = None

    def to_sql(self, d) -> str:
        if self.table:
            return f"{d.quote(self.table)}.{d.quote(self.name)}"
        return d.quote(self.name)

    def to_spark(self) -> Column:
        return F.col(f"{self.table}.{self.name}" if self.table else self.name)

    def output_name(self) -> str:
        return self.name


@dataclass(eq=False)
class Lit(Expr):
    """Literal (analyzer.rs:565)."""

    value: Any

    def to_sql(self, d) -> str:
        return d.literal(self.value)

    def to_spark(self) -> Column:
        return F.lit(self.value)

    def output_name(self) -> str:
        return str(self.value)


@dataclass(eq=False)
class Star(Expr):
    """Wildcard, optionally qualified, with optional REPLACE items and
    EXCEPT/EXCLUDE columns (analyzer.rs:494-522: planned wildcard
    options)."""

    table: Optional[str] = None
    #: REPLACE items: [(replacement_expr, column_name), ...]
    replace: Sequence[tuple] = ()
    #: EXCEPT/EXCLUDE column names dropped from the expansion
    exclude: Sequence[str] = ()

    def children(self):
        return tuple(e for e, _ in self.replace)

    def to_sql(self, d) -> str:
        s = f"{d.quote(self.table)}.*" if self.table else "*"
        if self.exclude:
            from .dialects import UnsupportedUnparse
            kw = getattr(d, "star_exclude_kw", None)
            if kw is None:
                raise UnsupportedUnparse(
                    f"dialect {d.name!r} has no * EXCEPT/EXCLUDE syntax; "
                    "compile this projection locally")
            cols = ", ".join(d.quote(c) for c in self.exclude)
            s += f" {kw} ({cols})"
        if self.replace:
            from .dialects import UnsupportedUnparse
            if not getattr(d, "supports_star_replace", True):
                raise UnsupportedUnparse(
                    f"dialect {d.name!r} has no * REPLACE syntax; "
                    "the unparser expands it to an explicit column list")
            items = ", ".join(f"{e.to_sql(d)} AS {d.quote(name)}"
                              for e, name in self.replace)
            s += f" REPLACE ({items})"
        return s

    def to_spark(self) -> Column:
        if self.replace or self.exclude:
            raise ValueError(
                "Star REPLACE/EXCEPT has no single-Column form; the "
                "compiler expands it to an explicit projection")
        return F.col(f"{self.table}.*" if self.table else "*")

    def output_name(self) -> str:
        return "*"


@dataclass(eq=False)
class IntervalLit(Expr):
    """Interval literal `INTERVAL '7' DAY` (analyzer.rs literal surface).
    Units are normalized singular uppercase. SQLite has no interval
    type, so unparsing there refuses (UnsupportedUnparse -> the
    enclosing expression compiles locally)."""

    n: int
    unit: str                            # DAY / MONTH / YEAR / HOUR / ...

    def to_sql(self, d) -> str:
        from .dialects import UnsupportedUnparse
        if d.name == "sqlite":
            raise UnsupportedUnparse(
                "sqlite has no INTERVAL type; compile date arithmetic "
                "locally (or use datetime(ts, ...) via a raw query)")
        if d.name == "mysql":
            return f"INTERVAL {self.n} {self.unit}"
        if d.name == "postgres":
            # PG's string form takes any unit it knows (incl. week);
            # its SQL-standard qualifier form does not
            return f"INTERVAL '{self.n} {self.unit.lower()}'"
        return f"INTERVAL '{self.n}' {self.unit}"

    def to_spark(self) -> Column:
        return F.expr(f"INTERVAL {self.n} {self.unit}")

    def output_name(self) -> str:
        return f"interval_{self.n}_{self.unit.lower()}"


def expand_star_options(cols: Sequence[str], star: "Star"):
    """Expand a Star with EXCEPT/EXCLUDE/REPLACE options against the
    input's column list into explicit expressions (validated: unknown
    names and EXCEPT∩REPLACE overlap raise). Shared by the compiler
    (local path, columns from the DataFrame) and the unparser (remote
    path, columns from the plan) so the two expansions cannot drift."""
    repl = {name.lower(): (x, name) for x, name in star.replace}
    excl = {c.lower() for c in star.exclude}
    known = {c.lower() for c in cols}
    bad = sorted((set(repl) | excl) - known)
    if bad:
        raise ValueError(f"* options reference unknown columns {bad}")
    both = sorted(set(repl) & excl)
    if both:
        raise ValueError(
            f"columns {both} appear in both EXCEPT and REPLACE")
    out = []
    for c in cols:
        lc = c.lower()
        if lc in excl:
            continue
        if lc in repl:
            out.append(Alias(repl[lc][0], c))
        else:
            out.append(Col(c, star.table))
    return out


# ---------------------------------------------------------------------------
# Composite expressions
# ---------------------------------------------------------------------------

@dataclass(eq=False)
class Alias(Expr):
    """`expr AS name` (analyzer.rs:240-252)."""

    expr: Expr
    name: str

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"{self.expr.to_sql(d)} AS {d.quote(self.name)}"

    def to_spark(self) -> Column:
        return self.expr.to_spark().alias(self.name)

    def output_name(self) -> str:
        return self.name


#: operators whose SQL spelling differs from the Spark Column operator
_SQL_TO_SPARK_BIN = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "AND": lambda a, b: a & b,
    "OR": lambda a, b: a | b,
    "||": lambda a, b: F.concat(a, b),
}


@dataclass(eq=False)
class BinaryOp(Expr):
    """All binary arithmetic/comparison/boolean ops (analyzer.rs:198-206)."""

    op: str
    left: Expr
    right: Expr

    def children(self): return (self.left, self.right)

    def to_sql(self, d) -> str:
        if self.op == "||":
            # string concat spelling is dialect-owned (MySQL: CONCAT)
            return d.concat_op(self.left.to_sql(d), self.right.to_sql(d))
        return f"({self.left.to_sql(d)} {self.op} {self.right.to_sql(d)})"

    def to_spark(self) -> Column:
        return _SQL_TO_SPARK_BIN[self.op.upper()](
            self.left.to_spark(), self.right.to_spark()
        )


@dataclass(eq=False)
class Not(Expr):
    expr: Expr

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"(NOT {self.expr.to_sql(d)})"

    def to_spark(self) -> Column:
        return ~self.expr.to_spark()


@dataclass(eq=False)
class Negative(Expr):
    expr: Expr

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"(- {self.expr.to_sql(d)})"

    def to_spark(self) -> Column:
        return -self.expr.to_spark()


@dataclass(eq=False)
class IsNull(Expr):
    expr: Expr

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"{self.expr.to_sql(d)} IS NULL"

    def to_spark(self) -> Column:
        return self.expr.to_spark().isNull()


@dataclass(eq=False)
class IsNotNull(Expr):
    expr: Expr

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"{self.expr.to_sql(d)} IS NOT NULL"

    def to_spark(self) -> Column:
        return self.expr.to_spark().isNotNull()


@dataclass(eq=False)
class IsTrue(Expr):
    """IS [NOT] TRUE/FALSE/UNKNOWN family (analyzer.rs:287-310)."""

    expr: Expr
    what: str = "TRUE"  # TRUE | FALSE | UNKNOWN
    negated: bool = False

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        neg = "NOT " if self.negated else ""
        return f"{self.expr.to_sql(d)} IS {neg}{self.what}"

    def to_spark(self) -> Column:
        c = self.expr.to_spark()
        if self.what == "UNKNOWN":
            base = c.isNull()
        else:
            base = c.eqNullSafe(F.lit(self.what == "TRUE"))
        return ~base if self.negated else base


@dataclass(eq=False)
class IsDistinctFrom(Expr):
    """IS [NOT] DISTINCT FROM — null-safe (in)equality, always TRUE or
    FALSE (never NULL). ``negated=True`` is the NOT form (null-safe
    equal, Spark's ``eqNullSafe`` / ``<=>``). Dialects without the
    standard spelling rewrite through ``Dialect.distinct_predicate``
    (MySQL ``<=>``, Derby a total AND/OR/IS NULL expansion)."""

    left: Expr
    right: Expr
    negated: bool = False

    def children(self): return (self.left, self.right)

    def to_sql(self, d) -> str:
        return d.distinct_predicate(self.left.to_sql(d),
                                    self.right.to_sql(d), self.negated)

    def to_spark(self) -> Column:
        eq = self.left.to_spark().eqNullSafe(self.right.to_spark())
        return eq if self.negated else ~eq


@dataclass(eq=False)
class Between(Expr):
    """Negatable BETWEEN (analyzer.rs:315-325)."""

    expr: Expr
    low: Expr
    high: Expr
    negated: bool = False

    def children(self): return (self.expr, self.low, self.high)

    def to_sql(self, d) -> str:
        neg = "NOT " if self.negated else ""
        return (f"{self.expr.to_sql(d)} {neg}BETWEEN "
                f"{self.low.to_sql(d)} AND {self.high.to_sql(d)}")

    def to_spark(self) -> Column:
        c = self.expr.to_spark().between(self.low.to_spark(), self.high.to_spark())
        return ~c if self.negated else c


@dataclass(eq=False)
class Like(Expr):
    """LIKE/ILIKE with escape + negation (analyzer.rs:253-263)."""

    expr: Expr
    pattern: Expr
    negated: bool = False
    case_insensitive: bool = False
    escape_char: Optional[str] = None

    def children(self): return (self.expr, self.pattern)

    def to_sql(self, d) -> str:
        op = d.ilike_op if self.case_insensitive else "LIKE"
        neg = "NOT " if self.negated else ""
        s = f"{self.expr.to_sql(d)} {neg}{op} {self.pattern.to_sql(d)}"
        if self.escape_char:
            s += f" ESCAPE {d.literal(self.escape_char)}"
        return s

    def to_spark(self) -> Column:
        c = self.expr.to_spark()
        if not isinstance(self.pattern, Lit):
            raise ValueError("Spark LIKE requires a literal pattern")
        pat = self.pattern.value
        res = c.ilike(pat) if self.case_insensitive else c.like(pat)
        return ~res if self.negated else res


@dataclass(eq=False)
class SimilarTo(Expr):
    """Regex match (analyzer.rs:264-274)."""

    expr: Expr
    pattern: Expr
    negated: bool = False

    def children(self): return (self.expr, self.pattern)

    def to_sql(self, d) -> str:
        return d.regex_match(self.expr.to_sql(d), self.pattern.to_sql(d),
                             self.negated)

    def to_spark(self) -> Column:
        if not isinstance(self.pattern, Lit):
            raise ValueError("Spark RLIKE requires a literal pattern")
        c = self.expr.to_spark().rlike(self.pattern.value)
        return ~c if self.negated else c


@dataclass(eq=False)
class InList(Expr):
    """Negatable IN (...) (analyzer.rs:448-456)."""

    expr: Expr
    values: Sequence[Expr]
    negated: bool = False

    def children(self): return (self.expr, *self.values)

    def to_sql(self, d) -> str:
        vals = ", ".join(v.to_sql(d) for v in self.values)
        neg = "NOT " if self.negated else ""
        return f"{self.expr.to_sql(d)} {neg}IN ({vals})"

    def to_spark(self) -> Column:
        c = self.expr.to_spark().isin([
            v.value if isinstance(v, Lit) else v.to_spark() for v in self.values
        ])
        return ~c if self.negated else c


@dataclass(eq=False)
class Case(Expr):
    """Searched + simple CASE (analyzer.rs:326-351)."""

    branches: Sequence[tuple]          # [(when_expr, then_expr), ...]
    else_expr: Optional[Expr] = None
    operand: Optional[Expr] = None     # simple form: CASE operand WHEN v ...

    def children(self):
        out = []
        if self.operand is not None:
            out.append(self.operand)
        for w, t in self.branches:
            out += [w, t]
        if self.else_expr is not None:
            out.append(self.else_expr)
        return tuple(out)

    def to_sql(self, d) -> str:
        parts = ["CASE"]
        if self.operand is not None:
            parts.append(self.operand.to_sql(d))
        for w, t in self.branches:
            parts.append(f"WHEN {w.to_sql(d)} THEN {t.to_sql(d)}")
        if self.else_expr is not None:
            parts.append(f"ELSE {self.else_expr.to_sql(d)}")
        parts.append("END")
        return " ".join(parts)

    def to_spark(self) -> Column:
        branches = self.branches
        if self.operand is not None:
            op = self.operand
            branches = [(BinaryOp("=", op, w), t) for w, t in branches]
        col = None
        for w, t in branches:
            col = (F.when(w.to_spark(), t.to_spark()) if col is None
                   else col.when(w.to_spark(), t.to_spark()))
        if self.else_expr is not None:
            col = col.otherwise(self.else_expr.to_spark())
        return col


@dataclass(eq=False)
class Cast(Expr):
    """CAST / TRY_CAST (analyzer.rs:352-362). dtype is a Spark SQL type string."""

    expr: Expr
    dtype: str
    try_cast: bool = False

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        kw = "TRY_CAST" if self.try_cast else "CAST"
        return f"{kw}({self.expr.to_sql(d)} AS {d.type_name(self.dtype)})"

    def to_spark(self) -> Column:
        c = self.expr.to_spark()
        return c.try_cast(self.dtype) if self.try_cast else c.cast(self.dtype)


@dataclass(eq=False)
class Lambda(Expr):
    """Higher-order-function lambda argument: ``x -> body`` /
    ``(a, b) -> body`` (Spark SQL and DuckDB share the arrow syntax;
    function NAMES differ — transform vs list_transform — so only the
    Spark dialect renders these and every remote claim refuses,
    compiling the subtree locally). Parameters shadow input columns;
    the body is ordinary expression IR whose param references parse as
    plain Cols."""

    params: Sequence[str]
    body: Expr

    def children(self): return (self.body,)

    def to_sql(self, d) -> str:
        if not getattr(d, "supports_lambda", False):
            from .dialects import UnsupportedUnparse
            raise UnsupportedUnparse(
                f"dialect {getattr(d, 'name', type(d).__name__)!r} has "
                "no higher-order lambda syntax")
        ps = (self.params[0] if len(self.params) == 1
              else "(" + ", ".join(self.params) + ")")
        return f"{ps} -> {self.body.to_sql(d)}"

    def to_spark(self) -> Column:
        raise NotImplementedError(
            "a lambda compiles only as a higher-order function "
            "argument")

    def output_name(self) -> str:
        return "lambda"


@dataclass(eq=False)
class Func(Expr):
    """Scalar function call (analyzer.rs:363-373). Name-mapped per dialect."""

    name: str
    args: Sequence[Expr] = ()

    def children(self): return tuple(self.args)

    def to_sql(self, d) -> str:
        return d.scalar_function(self.name, [a.to_sql(d) for a in self.args])

    def to_spark(self) -> Column:
        if any(isinstance(a, Lambda) for a in self.args):
            # higher-order call: Spark SQL parses the arrow syntax
            # natively, and the param Cols render as plain (quoted)
            # identifiers that bind to the lambda scope
            return F.expr(self.to_sql(get_dialect("spark")))
        fn = getattr(F, self.name, None)
        if fn is not None:
            try:
                return fn(*[a.to_spark() for a in self.args])
            except TypeError:
                # the pyspark counterpart wants non-Column args (e.g.
                # F.log's float base, date_trunc's literal unit) — fall
                # through to the SQL-expression builder
                pass
        # Fall back to Spark's SQL expression builder for anything
        # pyspark.sql.functions does not expose under the same name.
        return F.expr(self.to_sql(get_dialect("spark")))

    def output_name(self) -> str:
        return self.name


@dataclass(eq=False)
class AggFunc(Expr):
    """Aggregate call: DISTINCT / FILTER / ORDER BY args (analyzer.rs:374-409)."""

    name: str
    args: Sequence[Expr] = ()
    distinct: bool = False
    filter: Optional[Expr] = None
    order_by: Sequence["SortKey"] = ()
    #: ordered-set aggregate: f(frac) WITHIN GROUP (ORDER BY x) —
    #: order_by holds the WITHIN GROUP keys
    within_group: bool = False
    #: (precision, scale) of a DECIMAL argument, probed by the
    #: compiler's schema-aware pass (ADVICE r9): the DISTINCT-window
    #: fold must pin the accumulator type for decimals — Spark widens
    #: acc+v past the seed's precision and ArrayAggregate requires the
    #: merge type to equal the seed type, so an unhinted decimal fold
    #: raises AnalysisException. None for non-decimal inputs.
    decimal_hint: Optional[tuple] = None

    def children(self):
        out = list(self.args)
        if self.filter is not None:
            out.append(self.filter)
        out += [k.expr for k in self.order_by]
        return tuple(out)

    def to_sql(self, d) -> str:
        if self.within_group:
            if not getattr(d, "supports_within_group", False):
                from .dialects import UnsupportedUnparse
                raise UnsupportedUnparse(
                    f"dialect {type(d).__name__} has no WITHIN GROUP "
                    "syntax")
            inner = ", ".join(a.to_sql(d) for a in self.args)
            keys = ", ".join(k.to_sql(d) for k in self.order_by)
            s = (f"{d.agg_function(self.name)}({inner}) "
                 f"WITHIN GROUP (ORDER BY {keys})")
            if self.filter is not None:
                s += f" FILTER (WHERE {self.filter.to_sql(d)})"
            return s
        inner = ", ".join(a.to_sql(d) for a in self.args) or "*"
        if self.distinct:
            inner = "DISTINCT " + inner
        if self.order_by:
            if not getattr(d, "supports_agg_order_by", False):
                # MySQL (GROUP_CONCAT ... SEPARATOR), Derby, and Spark
                # SQL have no `agg(x, sep ORDER BY k)` spelling —
                # shipping it fails remotely; refuse at unparse so the
                # subtree compiles locally via _ordered_agg_spark
                # (ADVICE r7; mirrors IGNORE NULLS / EXCLUDE posture).
                from .dialects import UnsupportedUnparse
                raise UnsupportedUnparse(
                    f"dialect {type(d).__name__} has no in-call "
                    "aggregate ORDER BY syntax")
            inner += " ORDER BY " + ", ".join(k.to_sql(d) for k in self.order_by)
        s = f"{d.agg_function(self.name)}({inner})"
        if self.filter is not None:
            s += f" FILTER (WHERE {self.filter.to_sql(d)})"
        return s

    #: aggregates whose result depends on input order — these get a real
    #: local lowering (collect structs, comparator array_sort, project)
    ORDERED_AGGS = frozenset({"string_agg", "listagg", "group_concat",
                              "array_agg", "collect_list"})

    def to_spark(self) -> Column:
        if self.within_group:
            return self._within_group_spark()
        if self.order_by:
            if self.name.lower() in self.ORDERED_AGGS:
                return self._ordered_agg_spark()
            # silently dropping the ordering would make order-sensitive
            # aggregates nondeterministic on the local path while the
            # remote SQL honors it
            raise NotImplementedError(
                f"{self.name}(... ORDER BY ...) has no local Spark "
                "aggregate form; run it federated")
        args = list(self.args)
        if self.filter is not None:
            # FILTER (WHERE cond) -> agg(when(cond, arg)); count(*) filter ->
            # count(when(cond, lit(1))).
            if not args:
                args = [Lit(1)]
            args = [Case([(self.filter, a)]) for a in args]
        cols = [a.to_spark() for a in args]
        name = self.name.lower()
        if self.distinct:
            if name == "count":
                return F.countDistinct(*cols)
            if name == "sum":
                return F.sum_distinct(*cols)
            # other DISTINCT aggregates via Spark SQL expression text
            d = get_dialect("spark")
            inner = ", ".join(a.to_sql(d) for a in args)
            return F.expr(f"{name}(DISTINCT {inner})")
        if name == "count" and not cols:
            return F.count(F.lit(1))
        if name == "corr":
            # Spark 4's native corr divides by the variance product and
            # THROWS under the ANSI default when a group's x or y is
            # constant; every engine returns NULL there. Pearson's r IS
            # covar_pop / (stddev_pop * stddev_pop) over pairwise-
            # complete observations — same stable co-moment state, one
            # guarded division. The pairwise mask matters: bare
            # stddev_pop(x) would count rows whose y is NULL, which
            # corr's pairwise deletion excludes.
            x, y = cols
            both = x.isNotNull() & y.isNotNull()
            xm, ym = F.when(both, x), F.when(both, y)
            den = F.stddev_pop(xm) * F.stddev_pop(ym)
            return F.when(den != 0, F.covar_pop(xm, ym) / den)
        if name == "group_concat":
            # MySQL spelling; Spark 4 exposes the ANSI name
            return F.string_agg(*cols) if len(cols) > 1 \
                else F.string_agg(cols[0], F.lit(","))
        if name == "array_agg":
            # Spark's array_agg/collect_list drops NULL elements;
            # Postgres/DuckDB array_agg keeps them (and so does our
            # ordered arm) — collect non-null STRUCTS carrying the
            # possibly-NULL value, then unwrap (review r7 s3 finding
            # #4). FILTER must drop the whole ROW, not keep a NULL
            # element, so it gates the struct itself (NULL structs are
            # what collect_list drops) instead of the generic
            # Case-wrapped value above.
            st = F.struct(self.args[0].to_spark().alias("__v"))
            if self.filter is not None:
                st = F.when(self.filter.to_spark(), st)
            return F.transform(F.collect_list(st), lambda s: s["__v"])
        fn = getattr(F, name, None)
        if fn is None:
            raise ValueError(f"unknown aggregate {self.name}")
        return fn(*cols)

    def _ordered_agg_spark(self) -> Column:
        """Order-sensitive aggregate lowering: collect (keys..., value)
        structs, sort with an explicit comparator (array_sort), project
        the values back out — all JVM-side built-ins, no UDF. The
        comparator encodes ASC/DESC and NULLS FIRST/LAST per key
        (defaults follow Spark's sort: ASC->nulls first, DESC->nulls
        last; state NULLS explicitly in cross-engine queries — DuckDB
        and Postgres default to nulls LAST on ASC).

        string_agg/listagg/group_concat: concat_ws over the sorted
        values — concat_ws skips NULL elements, matching the engines'
        NULL-skipping string_agg. array_agg ORDER BY keeps NULL
        elements (Postgres array_agg semantics; note the difference
        from Spark's plain collect_list, which drops them)."""
        name = self.name.lower()
        if self.distinct:
            raise NotImplementedError(
                f"{name}(DISTINCT ... ORDER BY ...) is unsupported "
                f"locally")
        if self.filter is not None:
            raise NotImplementedError(
                f"{name}(... ORDER BY ...) FILTER is unsupported "
                f"locally")
        sep = ","
        if name in ("string_agg", "listagg", "group_concat"):
            if len(self.args) > 1:
                if not isinstance(self.args[1], Lit):
                    raise NotImplementedError(
                        f"{name} separator must be a literal")
                sep = str(self.args[1].value)
        fields = [k.expr.to_spark().alias(f"__k{i}")
                  for i, k in enumerate(self.order_by)]
        arr = F.collect_list(
            F.struct(*fields, self.args[0].to_spark().alias("__v")))

        def cmp(left, right):
            parts = []
            for i, k in enumerate(self.order_by):
                lk, rk = left[f"__k{i}"], right[f"__k{i}"]
                asc = k.ascending
                nf = k.nulls_first if k.nulls_first is not None else asc
                parts.append(
                    F.when(lk.isNull() & rk.isNull(), F.lit(0))
                    .when(lk.isNull(), F.lit(-1 if nf else 1))
                    .when(rk.isNull(), F.lit(1 if nf else -1))
                    .when(lk < rk, F.lit(-1 if asc else 1))
                    .when(lk > rk, F.lit(1 if asc else -1))
                    .otherwise(F.lit(0)))
            out = F.lit(0)
            for p in reversed(parts):
                out = F.when(p != F.lit(0), p).otherwise(out)
            return out

        vals = F.transform(F.array_sort(arr, cmp), lambda s: s["__v"])
        if name in ("string_agg", "listagg", "group_concat"):
            # concat_ws returns '' for an all-NULL (or empty) value
            # list; the engines' string_agg returns NULL there — and so
            # does the unordered F.string_agg path, so without this
            # guard results would flip on the ORDER BY spelling (review
            # r7 s3 finding #2)
            return F.when(F.exists(vals, lambda v: v.isNotNull()),
                          F.concat_ws(sep, vals))
        return vals

    def _within_group_spark(self, w=None) -> Column:
        """Ordered-set aggregates, f(frac) WITHIN GROUP (ORDER BY x).

        percentile_cont -> F.percentile (exact, linear interpolation,
        NULLs skipped — same rule as the engines); a DESC sort key maps
        to fraction 1-f, exact by the symmetry of linear interpolation.
        percentile_disc has no Spark builtin: sort the collected
        non-null values (collect_list drops NULLs = the engines' skip
        rule) and index at ceil(f*n) clamped to [1, n] — the first
        value whose cumulative distribution reaches f; DESC indexes
        from the other end (n - pos + 1). mode() maps to F.mode; its
        tie-break is engine-arbitrary on Postgres/DuckDB too, so no
        determinism is lost (tests pin tie-free data). NULLS FIRST/LAST
        on the sort key is accepted and irrelevant: every form skips
        NULL inputs.

        ``w`` (a WindowSpec) windows the form: only the AGGREGATE
        inside each composition gets ``.over(w)`` — the disc index
        arithmetic stays row-level, which is exactly why the generic
        ``func.to_spark().over(w)`` path cannot serve these (Spark
        rejects OVER on a non-aggregate composite). No remote engine
        runs ordered-set aggregates as window functions at all, so the
        unparser refuses and this is the only execution path."""
        def A(c):
            return c.over(w) if w is not None else c
        name = self.name.lower()
        if len(self.order_by) != 1:
            raise NotImplementedError(
                "WITHIN GROUP takes exactly one sort key here")
        k = self.order_by[0]
        x = k.expr.to_spark()
        if self.filter is not None:
            # rows failing the filter become NULLs every form skips
            x = F.when(self.filter.to_spark(), x)
        if name == "mode":
            if self.args:
                raise NotImplementedError("mode() takes no arguments")
            return A(F.mode(x))
        if len(self.args) != 1 or not isinstance(self.args[0], Lit) \
                or not isinstance(self.args[0].value, (int, float)) \
                or not 0 <= self.args[0].value <= 1:
            raise NotImplementedError(
                f"{name} needs one literal fraction in [0, 1]")
        f = float(self.args[0].value)
        if name == "percentile_cont":
            return A(F.percentile(
                x, F.lit(f if k.ascending else 1.0 - f)))
        vals = F.array_sort(A(F.collect_list(x)))
        n = F.size(vals)
        pos = F.greatest(F.lit(1), F.ceil(F.lit(f) * n))
        if not k.ascending:
            pos = n - pos + F.lit(1)
        return F.when(n > 0, F.element_at(vals, pos.cast("int")))

    def output_name(self) -> str:
        return self.name


@dataclass(eq=False)
class SparkCol(Expr):
    """A pre-built pyspark Column — the output of a compiler pre-pass
    lowering (e.g. MIN/MAX under frame EXCLUDE) that has no remote SQL
    form by construction. Local-only: unparsing refuses so federation
    vetting keeps the enclosing subtree local."""

    #: a pyspark Column, or a zero-arg factory returning one — the
    #: factory form lets PARSE-time desugars (SEARCH/CYCLE) stay
    #: session-free; construction happens at compile time
    col: Any
    name: str = "expr"

    def to_sql(self, d) -> str:
        from .dialects import UnsupportedUnparse
        raise UnsupportedUnparse(
            "pre-lowered local Spark column has no SQL rendering")

    def to_spark(self) -> Column:
        return self.col() if callable(self.col) else self.col

    def output_name(self) -> str:
        return self.name


@dataclass(eq=False)
class SortKey(Expr):
    """ORDER BY key (analyzer.rs:387-397,423-433)."""

    expr: Expr
    ascending: bool = True
    nulls_first: Optional[bool] = None

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        s = self.expr.to_sql(d) + (" ASC" if self.ascending else " DESC")
        if self.nulls_first is True:
            s += " NULLS FIRST"
        elif self.nulls_first is False:
            s += " NULLS LAST"
        return s

    def to_spark(self) -> Column:
        c = self.expr.to_spark()
        if self.ascending:
            if self.nulls_first is False:
                return c.asc_nulls_last()
            if self.nulls_first is True:
                return c.asc_nulls_first()
            return c.asc()
        if self.nulls_first is True:
            return c.desc_nulls_first()
        if self.nulls_first is False:
            return c.desc_nulls_last()
        return c.desc()


@dataclass(eq=False)
class WindowFrame:
    """ROWS/RANGE BETWEEN frame spec.

    ``exclude`` is the SQL:2011 frame-exclusion clause (Postgres 11+/
    DuckDB/SQLite 3.28+): "CURRENT ROW" | "GROUP" | "TIES"; None covers
    both no-clause and the no-op EXCLUDE NO OTHERS. Spark has no frame
    exclusion — WindowFunc._exclude_spark lowers it exactly for
    count/sum/avg by frame-aggregate arithmetic; dialects without the
    syntax refuse at unparse so the subtree compiles locally."""

    kind: str = "ROWS"                     # ROWS | RANGE
    start: Any = "UNBOUNDED PRECEDING"     # int offset or keyword string
    end: Any = "CURRENT ROW"
    exclude: Optional[str] = None          # CURRENT ROW | GROUP | TIES

    def _bound_sql(self, b) -> str:
        if isinstance(b, int):
            if b < 0:
                return f"{-b} PRECEDING"
            if b > 0:
                return f"{b} FOLLOWING"
            return "CURRENT ROW"
        return str(b)

    def to_sql(self, d) -> str:
        base = (f"{self.kind} BETWEEN {self._bound_sql(self.start)} "
                f"AND {self._bound_sql(self.end)}")
        if self.kind == "GROUPS" and not getattr(
                d, "supports_groups_frame", False):
            from .dialects import UnsupportedUnparse
            raise UnsupportedUnparse(
                f"dialect {type(d).__name__} has no GROUPS frame mode")
        if self.exclude:
            if not getattr(d, "supports_frame_exclude", False):
                from .dialects import UnsupportedUnparse
                raise UnsupportedUnparse(
                    f"dialect {type(d).__name__} has no frame EXCLUDE "
                    f"syntax")
            base += f" EXCLUDE {self.exclude}"
        return base

    def _bound_spark(self, b, is_start: bool) -> int:
        from pyspark.sql import Window as W
        if isinstance(b, int):
            return b
        b = str(b).upper().strip()
        if "UNBOUNDED" in b:
            return W.unboundedPreceding if is_start else W.unboundedFollowing
        if "CURRENT" in b:
            return W.currentRow
        # "5 PRECEDING" / "3 FOLLOWING" string forms (the to_sql side
        # renders these; the local side must agree, not silently use
        # CURRENT ROW)
        m = re.match(r"(\d+)\s+(PRECEDING|FOLLOWING)$", b)
        if m:
            n = int(m.group(1))
            return -n if m.group(2) == "PRECEDING" else n
        raise ValueError(f"unsupported window frame bound {b!r}")


@dataclass(eq=False)
class WindowFunc(Expr):
    """Window function with full frame spec (analyzer.rs:410-447).

    ``ignore_nulls`` is the SQL:2011 null treatment clause on
    lead/lag/first_value/last_value/nth_value. Dialect syntax varies:
    postfix ``f(x) IGNORE NULLS OVER`` (standard, Spark) vs inline
    ``f(x IGNORE NULLS) OVER`` (DuckDB); Postgres/SQLite/MySQL/Derby
    have NO syntax for it — their dialects refuse (UnsupportedUnparse)
    and the enclosing subtree compiles locally."""

    func: Expr                              # Func or AggFunc
    partition_by: Sequence[Expr] = ()
    order_by: Sequence[SortKey] = ()
    frame: Optional[WindowFrame] = None
    ignore_nulls: bool = False

    def children(self):
        return (self.func, *self.partition_by, *[k.expr for k in self.order_by])

    def to_sql(self, d) -> str:
        if getattr(self.func, "within_group", False):
            # no target engine runs an ordered-set aggregate as a
            # window function (DuckDB: 'ORDER BY is not implemented for
            # window functions'; Postgres rejects ordered-set aggs in
            # OVER) — refuse at unparse so the subtree compiles
            # locally, where F.percentile/.over and the disc lowering
            # are well-defined (review r7 s4)
            from .dialects import UnsupportedUnparse
            raise UnsupportedUnparse(
                "WITHIN GROUP under an OVER clause has no remote "
                "rendering")
        if getattr(self.func, "distinct", False) and not getattr(
                d, "supports_window_distinct_agg", False):
            # DuckDB runs DISTINCT window aggregates; Postgres/SQLite/
            # MySQL/Spark refuse them — render only where it executes
            from .dialects import UnsupportedUnparse
            raise UnsupportedUnparse(
                f"dialect {type(d).__name__} does not run DISTINCT "
                "window aggregates")
        over = []
        if self.partition_by:
            over.append("PARTITION BY " +
                        ", ".join(e.to_sql(d) for e in self.partition_by))
        if self.order_by:
            over.append("ORDER BY " +
                        ", ".join(k.to_sql(d) for k in self.order_by))
        if self.frame is not None:
            over.append(self.frame.to_sql(d))
        fsql = self.func.to_sql(d)
        if self.ignore_nulls:
            style = getattr(d, "ignore_nulls_style", None)
            if getattr(self.func, "filter", None) is not None:
                # no engine we target can express FILTER + IGNORE NULLS
                # on one window call (DuckDB: 'FILTER is not implemented
                # for non-aggregate window functions'; Spark: 'Window
                # aggregate function with filter predicate is not
                # supported yet') — refuse so the subtree compiles
                # locally, where the when()-mask lowering is exact
                # (review r7 s3 finding #5)
                from .dialects import UnsupportedUnparse
                raise UnsupportedUnparse(
                    "FILTER with IGNORE NULLS on a window function has "
                    "no remote rendering")
            if style == "inline":
                # splice inside the CALL's closing arg paren — with no
                # filter the call's ')' is the last character
                fsql = fsql[:-1] + " IGNORE NULLS)"
            elif style == "postfix":
                fsql = fsql + " IGNORE NULLS"
            else:
                from .dialects import UnsupportedUnparse
                raise UnsupportedUnparse(
                    f"dialect {type(d).__name__} has no IGNORE NULLS "
                    f"syntax")
        return f"{fsql} OVER ({' '.join(over)})"

    def to_spark(self) -> Column:
        from pyspark.sql import Window as W
        w = W.partitionBy(*[e.to_spark() for e in self.partition_by])
        if self.order_by:
            w = w.orderBy(*[k.to_spark() for k in self.order_by])
        if self.frame is not None:
            if self.frame.kind == "GROUPS":
                # Spark has no GROUPS mode; the compiler lowers it to
                # RANGE over a dense_rank ordinal BEFORE expressions
                # compile (compiler._lower_groups_frames) — reaching
                # here means a GROUPS window sits somewhere that
                # rewrite does not cover (a sort key, a filter)
                raise NotImplementedError(
                    "GROUPS frames compile only in a projection (the "
                    "dense_rank-ordinal lowering needs a pre-pass)")
            lo = self.frame._bound_spark(self.frame.start, True)
            hi = self.frame._bound_spark(self.frame.end, False)
            w = (w.rowsBetween(lo, hi) if self.frame.kind == "ROWS"
                 else w.rangeBetween(lo, hi))
        if getattr(self.func, "within_group", False):
            # the generic .over() below would wrap the disc form's
            # non-aggregate index arithmetic — window only the inner
            # aggregate instead (review r7 s4)
            if self.frame is not None and self.frame.exclude:
                raise NotImplementedError(
                    "frame EXCLUDE on a WITHIN GROUP window is outside "
                    "the compiler surface")
            return self.func._within_group_spark(w)
        if getattr(self.func, "distinct", False):
            # Spark refuses DISTINCT window aggregates outright.
            # COUNT(DISTINCT x) OVER w IS the size of the frame's
            # distinct value set — collect_set honors the frame and
            # drops NULLs, exactly count-distinct's skip rule; FILTER
            # composes as the usual NULL mask. SUM/AVG DISTINCT would
            # need a typed fold over the set (a silent double cast
            # would diverge from the engines' integer sums) — refused.
            f = self.func
            fname = getattr(f, "name", "").lower()
            if fname not in ("count", "sum", "avg", "min", "max") \
                    or len(f.args) != 1 or isinstance(f.args[0], Star):
                raise NotImplementedError(
                    "DISTINCT window aggregates are lowered for "
                    "single-argument COUNT/SUM/AVG/MIN/MAX only")
            x = f.args[0].to_spark()
            if f.filter is not None:
                x = F.when(f.filter.to_spark(), x)
            if self.frame is not None and self.frame.exclude:
                raise NotImplementedError(
                    "frame EXCLUDE with a DISTINCT window aggregate is "
                    "outside the compiler surface")
            if fname == "min":            # DISTINCT is a no-op for min/max
                return F.min(x).over(w)
            if fname == "max":
                return F.max(x).over(w)
            s = F.collect_set(x).over(w)
            if fname == "count":
                return F.size(s).cast("bigint")
            # SUM/AVG DISTINCT (VERDICT r7 missing #1): fold the frame's
            # distinct-value set. Seeding the fold with the set's FIRST
            # element (instead of a literal zero) keeps the accumulator
            # in the COLUMN's own type — integer sums stay integral, a
            # silent double cast would diverge from the engines' sums.
            # Empty set => NULL seed => NULL sum/avg, the SQL identity.
            # collect_set drops NULLs, matching DISTINCT-agg null skip.
            rest = F.slice(s, F.lit(2),
                           F.greatest(F.size(s) - 1, F.lit(0)))
            hint = getattr(f, "decimal_hint", None)
            if hint is not None:
                # DECIMAL fold (ADVICE r9): acc+v widens past the seed's
                # precision and ArrayAggregate requires merge type ==
                # seed type, so cast seed AND every merge result to a
                # pinned accumulator type. The accumulator precision is
                # 37 (not 38): acc(37,s)+v(p,s) peaks at EXACTLY
                # precision 38, so Spark's precision-loss adjustment
                # never fires and the scale survives intact — at 38 the
                # intermediate would hit 39 and shrink the scale to
                # max(s-1, 6), silently rounding the 8th+ fraction
                # digit. Only p=38 inputs need the 38-accumulator (and
                # inherit that documented shrink — sums near 38 integer
                # digits overflow natively too). The final sum is cast
                # to Spark's native SUM(decimal(p,s)) result type,
                # DECIMAL(min(38,p+10),s).
                from pyspark.sql.types import DecimalType
                p_, s_ = hint
                acc_t = DecimalType(37 if p_ <= 37 else 38, s_)
                total = F.aggregate(
                    rest, F.get(s, F.lit(0)).cast(acc_t),
                    lambda acc, v: (acc + v).cast(acc_t))
                if fname == "sum":
                    return total.cast(DecimalType(min(38, p_ + 10), s_))
                return F.when(F.size(s) > 0,
                              total.cast("double") / F.size(s))
            total = F.aggregate(rest, F.get(s, F.lit(0)),
                                lambda acc, v: acc + v)
            if fname == "sum":
                return total
            # avg; the size guard keeps ANSI mode from raising
            # DIVIDE_BY_ZERO on an all-NULL (empty-set) frame
            return F.when(F.size(s) > 0,
                          total.cast("double") / F.size(s))
        if self.frame is not None and self.frame.exclude:
            if self.ignore_nulls:
                raise NotImplementedError(
                    "frame EXCLUDE with IGNORE NULLS is outside the "
                    "compiler surface")
            return self._exclude_spark(w)
        if self.ignore_nulls:
            return self._ignore_nulls_spark(w)
        return self.func.to_spark().over(w)

    def _exclude_spark(self, w_full) -> Column:
        """SQL:2011 frame exclusion, lowered EXACTLY for count/sum/avg
        by aggregate arithmetic over two windows — no per-row frames,
        no UDF, one extra window pass at most:

          full  = agg over the declared frame (w_full)
          peers = agg over the current row's ORDER-BY peer group
                  (partition extended by the order-key exprs, whole-
                  partition frame)
          self  = the current row's own contribution (x IS NOT NULL /
                  COALESCE(x, 0); count(*) contributes 1)

          EXCLUDE CURRENT ROW -> full - self
          EXCLUDE GROUP       -> full - peers
          EXCLUDE TIES        -> full - peers + self

        The subtractions are valid only when the removed rows are
        STATICALLY guaranteed inside the frame. Exclusion bounds are
        compile-time constants, so the guarantees are decidable here:
        the current row is in-frame iff lo <= 0 <= hi (then CURRENT ROW
        exclusion applies; otherwise it is a provable no-op and the
        plain aggregate compiles); the full peer group is in-frame iff
        the frame is RANGE with lo <= 0 <= hi (peers sit at key-distance
        0; RANGE CURRENT ROW bounds include all peers by definition) or
        ROWS UNBOUNDED..UNBOUNDED — anything else refuses loudly.
        count over an all-excluded frame is 0 and sum/avg are NULL,
        matching Postgres/DuckDB."""
        func = self.func
        name = getattr(func, "name", "").lower()
        if (not isinstance(func, AggFunc)
                or name not in ("count", "sum", "avg")
                or getattr(func, "distinct", False)
                or getattr(func, "order_by", None)):
            raise NotImplementedError(
                f"frame EXCLUDE is lowered arithmetically for plain "
                f"COUNT/SUM/AVG only, not {name}() — MIN/MAX lower via "
                f"the compiler's projection pre-pass "
                f"(_lower_exclude_minmax); other aggregates refuse")
        from pyspark.sql import Window as W
        fr = self.frame
        lo = fr._bound_spark(fr.start, True)
        hi = fr._bound_spark(fr.end, False)
        current_in_frame = lo <= 0 <= hi
        mode = fr.exclude.upper()
        if mode == "CURRENT ROW" and not current_in_frame:
            return func.to_spark().over(w_full)   # provable no-op
        if mode in ("GROUP", "TIES"):
            if not self.order_by:
                raise NotImplementedError(
                    "EXCLUDE GROUP/TIES without ORDER BY excludes via "
                    "an undefined peer relation")
            peers_in_frame = (
                (fr.kind == "RANGE" and current_in_frame)
                or (fr.kind == "ROWS"
                    and lo == W.unboundedPreceding
                    and hi == W.unboundedFollowing))
            if not peers_in_frame:
                raise NotImplementedError(
                    "EXCLUDE GROUP/TIES needs the peer group provably "
                    "inside the frame (RANGE containing offset 0, or "
                    "ROWS UNBOUNDED..UNBOUNDED)")

        star = (len(func.args) == 1 and isinstance(func.args[0], Star)) \
            or not func.args
        x = None if star else func.args[0].to_spark()
        filt = getattr(func, "filter", None)
        if filt is not None:
            # FILTER composes with the exclusion arithmetic: rows
            # failing it become NULLs that count/sum skip — in the
            # full-frame agg, the peer agg, AND the row's own
            # contribution alike (review r7 s4)
            fc = filt.to_spark()
            x = None if star else F.when(fc, x)
            star_one = F.when(fc, F.lit(1))
        else:
            star_one = F.lit(1)
        cnt_arg = star_one if star else x
        self_cnt = (F.coalesce(star_one, F.lit(0)) if star else
                    F.when(x.isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        self_sum = None if star else F.coalesce(x, F.lit(0))

        cnt_full = F.count(cnt_arg).over(w_full)
        sum_full = None if star else F.sum(x).over(w_full)
        if mode == "CURRENT ROW":
            cnt = cnt_full - self_cnt
            adj = None if star else sum_full - self_sum
        else:
            w_peer = W.partitionBy(
                *[e.to_spark() for e in self.partition_by],
                *[k.expr.to_spark() for k in self.order_by])
            cnt_peer = F.count(cnt_arg).over(w_peer)
            sum_peer = None if star else \
                F.coalesce(F.sum(x).over(w_peer), F.lit(0))
            if mode == "GROUP":
                cnt = cnt_full - cnt_peer
                adj = None if star else sum_full - sum_peer
            elif mode == "TIES":
                cnt = cnt_full - cnt_peer + self_cnt
                adj = None if star else sum_full - sum_peer + self_sum
            else:
                raise NotImplementedError(
                    f"unknown frame exclusion {fr.exclude!r}")
        if name == "count":
            return cnt.cast("bigint")
        if adj is None:
            raise NotImplementedError(f"{name}(*) is not SQL")
        guarded = F.when(cnt > 0, adj)
        if name == "sum":
            return guarded
        return guarded / cnt                       # avg

    def _ignore_nulls_spark(self, w) -> Column:
        """IGNORE NULLS lowering. pyspark exposes the flag on
        first/last/nth_value/any_value directly; lead/lag lack the
        parameter, so offset-1 forms rewrite EXACTLY to last/first over
        the one-sided preceding/following frame (the n-th-non-null
        semantics of larger offsets have no built-in — refused loudly
        rather than approximated)."""
        from pyspark.sql import Window as W
        name = getattr(self.func, "name", "").lower()
        args = [a.to_spark() for a in getattr(self.func, "args", ())]
        raw = list(getattr(self.func, "args", ()))
        filt = getattr(self.func, "filter", None)
        if filt is not None and args:
            # FILTER + IGNORE NULLS composes exactly: rows failing the
            # filter become NULL values, which the ignore-nulls
            # aggregate then skips (review r7 s3 finding #5)
            args[0] = F.when(filt.to_spark(), args[0])

        def lit_int(e):
            return e.value if isinstance(e, Lit) and \
                isinstance(e.value, int) else None

        if name in ("first_value", "first"):
            return F.first(args[0], ignorenulls=True).over(w)
        if name in ("last_value", "last"):
            return F.last(args[0], ignorenulls=True).over(w)
        if name == "nth_value":
            n = lit_int(raw[1])
            if n is None:
                raise NotImplementedError(
                    "nth_value IGNORE NULLS needs a literal offset")
            return F.nth_value(args[0], n, ignoreNulls=True).over(w)
        if name == "any_value":
            return F.any_value(args[0], True).over(w)
        if name in ("lag", "lead"):
            off = 1 if len(raw) < 2 else lit_int(raw[1])
            if off is None or off < 0:
                raise NotImplementedError(
                    f"{name} IGNORE NULLS needs a literal non-negative "
                    f"offset")
            base = W.partitionBy(
                *[e.to_spark() for e in self.partition_by])
            if self.order_by:
                base = base.orderBy(*[k.to_spark() for k in self.order_by])
            if off == 0:
                # offset 0 is the current row regardless of null
                # treatment (Postgres/DuckDB agree)
                return args[0]
            if off == 1 and len(raw) <= 2:
                if name == "lag":
                    # last non-null strictly before the current row
                    return F.last(args[0], ignorenulls=True).over(
                        base.rowsBetween(W.unboundedPreceding, -1))
                return F.first(args[0], ignorenulls=True).over(
                    base.rowsBetween(1, W.unboundedFollowing))
            # offset n > 1 (or a default arg): the n-th non-null value
            # strictly before/after the current row. collect_list skips
            # NULLs and honors the one-sided frame, so lag is the n-th
            # from the END of the preceding non-null values and lead the
            # n-th from the START of the following ones — an EXACT
            # lowering (VERDICT r7 missing #1). Cost note: the running
            # collect materializes the one-sided frame per row — fine
            # for the rare n-th-non-null query, bounded by partition.
            w_side = (base.rowsBetween(W.unboundedPreceding, -1)
                      if name == "lag"
                      else base.rowsBetween(1, W.unboundedFollowing))
            arr = F.collect_list(args[0]).over(w_side)
            idx = F.lit(-off) if name == "lag" else F.lit(off)
            got = F.when(F.size(arr) >= off, F.element_at(arr, idx))
            if len(raw) > 2:
                # 3-arg form: default fills when fewer than n non-nulls
                # exist on that side (engines' documented behavior)
                got = F.when(F.size(arr) >= off,
                             F.element_at(arr, idx)).otherwise(raw[2].to_spark())
            return got
        raise NotImplementedError(
            f"IGNORE NULLS is not defined for {name}()")


# -- grouping sets (analyzer.rs:523-550) ------------------------------------

def _bare_member(e: "Expr") -> "Expr":
    """GROUP BY clauses take bare expressions — a select-list-relabeled
    member (Alias) renders its underlying expr; the LABEL belongs to the
    select list only."""
    return e.expr if isinstance(e, Alias) else e


@dataclass(eq=False)
class Rollup(Expr):
    exprs: Sequence[Expr]

    def children(self): return tuple(self.exprs)

    def to_sql(self, d) -> str:
        return "ROLLUP (" + ", ".join(
            _bare_member(e).to_sql(d) for e in self.exprs) + ")"


@dataclass(eq=False)
class Cube(Expr):
    exprs: Sequence[Expr]

    def children(self): return tuple(self.exprs)

    def to_sql(self, d) -> str:
        return "CUBE (" + ", ".join(
            _bare_member(e).to_sql(d) for e in self.exprs) + ")"


@dataclass(eq=False)
class GroupingSets(Expr):
    sets: Sequence[Sequence[Expr]]

    def children(self):
        return tuple(e for s in self.sets for e in s)

    def to_sql(self, d) -> str:
        inner = ", ".join(
            "(" + ", ".join(_bare_member(e).to_sql(d) for e in s) + ")"
            for s in self.sets
        )
        return f"GROUPING SETS ({inner})"


# -- subquery expressions (analyzer.rs:185-197,457-491,566-586) --------------

@dataclass(eq=False)
class ScalarSubquery(Expr):
    """Scalar subquery; federated independently (optimizer/mod.rs:285-305).

    ``column`` selects one output column of a MULTI-column 1-row plan
    (None = first). Two ScalarSubquery nodes sharing one plan object
    compile that plan ONCE (the quantifier rewrite emits min/max and
    count from a single shared Aggregate so a federated subquery
    executes remotely once, and both values come from the same read)."""

    plan: Any  # plans.nodes.Plan (late-bound to avoid a cycle)
    column: Optional[str] = None

    def to_sql(self, d) -> str:
        from .unparser import Unparser
        sql = Unparser(d).plan_to_sql(self.plan)
        if self.column is not None:
            a = d.quote("__sq")
            return (f"(SELECT {d.quote(self.column)} FROM ({sql}) AS {a})")
        return "(" + sql + ")"

    def to_spark(self) -> Column:
        raise NotImplementedError(
            "scalar subqueries execute via the engine, not a bare Column"
        )


@dataclass(eq=False)
class Exists(Expr):
    """EXISTS subquery (analyzer.rs:457-471)."""

    plan: Any
    negated: bool = False

    def to_sql(self, d) -> str:
        from .unparser import Unparser
        neg = "NOT " if self.negated else ""
        return f"{neg}EXISTS (" + Unparser(d).plan_to_sql(self.plan) + ")"


@dataclass(eq=False)
class InSubquery(Expr):
    """IN subquery. The reference's federation rule refuses the raw form
    (optimizer/mod.rs:113,302) because DataFusion's analyzer decorrelates
    it to a semi join before the rule runs; we reach the same observable
    directly — a same-provider IN (subquery) joins the enclosing claim
    and renders natively in the one remote SQL (round 4), while mixed
    providers compile it locally as a LEFT SEMI join."""

    expr: Expr
    plan: Any
    negated: bool = False

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        from .unparser import Unparser
        neg = "NOT " if self.negated else ""
        return (f"{self.expr.to_sql(d)} {neg}IN ("
                + Unparser(d).plan_to_sql(self.plan) + ")")


@dataclass(eq=False)
class OuterRef(Expr):
    """Correlated outer-reference column (analyzer.rs:551-560). A
    subquery root considered on its own stays local because of it (the
    reference's posture, optimizer/mod.rs:114-120) — but since round 4 a
    QUALIFIED outer reference whose scope rides inside the same
    single-provider claim federates natively with the enclosing query
    (federation.py:_subquery_outer_ok); unqualified or out-of-claim
    references still force the local compile."""

    name: str
    table: Optional[str] = None

    def to_sql(self, d) -> str:
        return Col(self.name, self.table).to_sql(d)


@dataclass(eq=False)
class SetComparison(Expr):
    """Quantified comparison ``expr op ANY/ALL (subquery)``
    (analyzer.rs:566-586). Unparses verbatim for the remote path; the
    local compiler rewrites to IN / NOT IN / min-max scalar aggregates
    (SURVEY.md §2C)."""

    expr: Expr
    op: str             # = <> < <= > >=
    quantifier: str     # ANY | ALL
    plan: Any           # plans.nodes.Plan

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        from .unparser import Unparser
        return (f"{self.expr.to_sql(d)} {self.op} {self.quantifier} ("
                + Unparser(d).plan_to_sql(self.plan) + ")")

    def to_spark(self) -> Column:
        raise NotImplementedError(
            "SetComparison compiles via the Compiler's quantifier rewrite")


@dataclass(eq=False)
class Unnest(Expr):
    """UNNEST(array) (analyzer.rs:561-564) — Spark: explode()."""

    expr: Expr

    def children(self): return (self.expr,)

    def to_sql(self, d) -> str:
        return f"UNNEST({self.expr.to_sql(d)})"

    def to_spark(self) -> Column:
        return F.explode(self.expr.to_spark())

    def output_name(self) -> str:
        return "unnest"


_UNBOUND = object()


@dataclass(eq=False)
class Placeholder(Expr):
    """Parameter placeholder like ``$1`` (analyzer.rs:565). Unparses as
    the marker while unbound (a remote engine with its own parameter
    binding may receive it verbatim); once bound — engine.execute(...,
    params=...) / bind_placeholders — it renders as the literal value."""

    name: str                       # "$1", ":lo", ...
    value: Any = _UNBOUND

    def to_sql(self, d) -> str:
        if self.value is _UNBOUND:
            return self.name
        return d.literal(self.value)

    def to_spark(self) -> Column:
        if self.value is _UNBOUND:
            raise ValueError(f"unbound placeholder {self.name}; pass "
                             "params={...} to execute()")
        return F.lit(self.value)

    def output_name(self) -> str:
        return self.name


@dataclass(eq=False)
class ScalarVariable(Expr):
    """Session variable ``@@name`` (analyzer.rs:565). The local compiler
    resolves it from the Spark session conf at compile time."""

    name: str

    def to_sql(self, d) -> str:
        return f"@@{self.name}"

    def to_spark(self) -> Column:
        raise NotImplementedError(
            "ScalarVariable resolves via the Compiler (session conf)")


def bind_placeholders(plan, params: dict) -> None:
    """Bind Placeholder values across a plan in place (keys may be given
    with or without their marker char: {'$1': 5} or {'1': 5})."""
    from .plans.nodes import walk_plan
    for node in walk_plan(plan):
        for e in node.exprs():
            bind_expr_placeholders(e, params)
        for x in _subquery_plans(node):
            bind_placeholders(x, params)


def bind_expr_placeholders(expr, params: dict) -> None:
    """Bind Placeholder values inside ONE expression tree in place
    (r13: the DML paths carry bare predicates/assignments, not plans).
    Subquery plans nested in the expression bind too."""
    if expr is None:
        return
    for x in walk(expr):
        if isinstance(x, Placeholder):
            key = x.name
            stripped = key.lstrip("$:@")
            if key in params:
                x.value = params[key]
            elif stripped in params:
                x.value = params[stripped]
        elif isinstance(x, (ScalarSubquery, Exists, InSubquery,
                            SetComparison)):
            bind_placeholders(x.plan, params)


def unbound_placeholders(expr) -> list:
    """Names of Placeholder markers still unbound in an expression
    tree (including nested subquery plans) — the engine refuses to
    ship these to a remote engine verbatim."""
    from .plans.nodes import walk_plan
    out = []
    if expr is None:
        return out
    for x in walk(expr):
        if isinstance(x, Placeholder) and x.value is _UNBOUND:
            out.append(x.name)
        elif isinstance(x, (ScalarSubquery, Exists, InSubquery,
                            SetComparison)):
            for node in walk_plan(x.plan):
                for e in node.exprs():
                    out.extend(unbound_placeholders(e))
    return out


def _subquery_plans(node):
    for e in node.exprs():
        for x in walk(e):
            if isinstance(x, (ScalarSubquery, Exists, InSubquery,
                              SetComparison)):
                yield x.plan


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def col(name: str) -> Col:
    if "." in name:
        t, c = name.rsplit(".", 1)
        return Col(c, t)
    return Col(name)


def lit(v: Any) -> Lit:
    return Lit(v)


def func(name: str, *args: Any) -> Func:
    return Func(name, [_wrap(a) for a in args])


def agg(name: str, *args: Any, distinct: bool = False,
        filter: Optional[Expr] = None) -> AggFunc:
    return AggFunc(name, [_wrap(a) for a in args], distinct=distinct,
                   filter=filter)


def walk(e: Expr):
    """Yield e and all descendants (scan_expr_recursively analog)."""
    yield e
    for c in e.children():
        yield from walk(c)


def conjuncts(e: Expr) -> list:
    """The AND-conjuncts of ``e`` in source order (``[e]`` when ``e`` is
    not an AND)."""
    if isinstance(e, BinaryOp) and e.op.upper() == "AND":
        return conjuncts(e.left) + conjuncts(e.right)
    return [e]


def and_all(es: Sequence[Expr]) -> Expr:
    """Left-deep AND of a non-empty sequence of expressions."""
    out = es[0]
    for e in es[1:]:
        out = BinaryOp("AND", out, e)
    return out
