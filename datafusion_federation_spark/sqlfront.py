"""SQL front door: a self-contained parser for the §2C relational surface
that builds our plan IR, so ``engine.sql(...)`` gets the SAME
largest-subtree federation as the builder API.

The reference's flagship entry point is ``ctx.sql(query)`` (SURVEY.md §3
entry point 1) — DataFusion parses, then the federation rule finds
single-provider subtrees. Our earlier sql() registered remote tables as
whole-table federated views and let Spark parse, which loses the
cross-table collapse (a join of two same-remote tables pulled both whole).
This parser covers: SELECT [DISTINCT] with expressions/aliases (FROM-less
constant selects included), FROM with table aliases + derived tables +
(VALUES ...) inline relations, INNER/LEFT/RIGHT/FULL/CROSS JOIN ... ON,
[INNER|LEFT] JOIN LATERAL / , LATERAL (decorrelated at compile), WHERE,
GROUP BY (+ ROLLUP/CUBE/GROUPING SETS, GROUPING()), HAVING, ORDER BY
[ASC|DESC] [NULLS FIRST|LAST], LIMIT/OFFSET, UNION [ALL] / INTERSECT /
EXCEPT, WITH [RECURSIVE] CTEs (fixpoint compiled locally),
scalar/EXISTS/IN subqueries (with OuterRef detection for correlation),
CASE, BETWEEN, [NOT] IN, [NOT] LIKE/ILIKE, IS [NOT] NULL, CAST/TRY_CAST,
ANY/ALL, arithmetic/comparison/boolean operators, function calls incl.
COUNT(DISTINCT ...), FILTER (WHERE ...), ordered aggregates
(STRING_AGG/ARRAY_AGG ... ORDER BY) and window IGNORE NULLS.

Unsupported constructs raise SqlParseError — engine.sql() falls back to
the Spark-parser path (per-table pushdown) for those.
"""

from __future__ import annotations

import re
from typing import Any, Callable, List, Optional, Tuple

from .expressions import (
    AggFunc, Alias, Between, BinaryOp, Case, Cast, Col, Cube, Exists, Expr,
    Func, GroupingSets, InList, InSubquery, IsNull, Like, Lit, Not,
    OuterRef, Rollup, ScalarSubquery, SetComparison, SortKey, Star,
    WindowFrame, WindowFunc,
)
from .plans.nodes import (
    Aggregate, Distinct, Filter, Join, LateralJoin, Limit, OneRow, Plan,
    Project, RecursiveCTE, RecursiveRef, Scan, SetOp, Sort, SubqueryAlias,
    Union, walk_plan,
)

AGG_NAMES = {"count", "sum", "avg", "min", "max", "stddev", "variance",
             "first", "last", "collect_list", "collect_set", "median",
             "string_agg", "listagg", "group_concat", "array_agg",
             # GROUPING()/GROUPING_ID() must be computed INSIDE the
             # grouping Aggregate (Spark: UNSUPPORTED_GROUPING_EXPRESSION
             # in a post-projection) — classifying them as aggregates
             # routes them into Aggregate.aggregates where F.grouping /
             # F.grouping_id are legal
             "grouping", "grouping_id",
             # ordered-set aggregates (WITHIN GROUP)
             "percentile_cont", "percentile_disc", "mode",
             # statistical family — names whose DEFINITIONS agree on
             # Spark and the remote engines, so the generic F.<name>
             # lowering and the remote rendering compute the same
             # thing. skewness/kurtosis are deliberately absent: Spark
             # uses population moments, DuckDB sample-corrected ones —
             # a silent definitional mismatch across the federation
             # boundary
             "stddev_samp", "stddev_pop", "var_samp", "var_pop",
             "corr", "covar_samp", "covar_pop",
             "bool_and", "bool_or", "bit_and", "bit_or", "bit_xor",
             "any_value"}

#: names WITHIN GROUP (ORDER BY ...) attaches to
WITHIN_GROUP_AGGS = {"percentile_cont", "percentile_disc", "mode"}

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<num>\d+\.\d+|\d+)
    | (?P<str>'(?:[^']|'')*')
    | (?P<qid>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<id>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<param>\$\d+|:[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op>->|<=|>=|<>|!=|\|\||[=<>+\-*/%(),.*])
    )""", re.X)


class SqlParseError(ValueError):
    pass


def _structural_key(x) -> str:
    """Total, deterministic identity string for an expression tree.

    Fallback for ``_expr_key`` when the ANSI unparser (rightly) refuses a
    construct: class name + dataclass fields, recursively. Never raises."""
    import dataclasses

    from .expressions import Expr, SparkCol
    if isinstance(x, SparkCol):
        # ADVICE r9: SparkCol.col holds a pyspark Column or a lambda
        # whose repr embeds a memory address — two structurally
        # identical desugar products would get different keys, breaking
        # GROUP BY/HAVING matching. Key by the `name` field instead:
        # every parse-time SparkCol factory (SEARCH/CYCLE appends)
        # carries a unique, collision-checked column name, so the name
        # IS the structural identity.
        return f"SparkCol(name={x.name!r})"
    if isinstance(x, Expr):
        if dataclasses.is_dataclass(x):
            parts = ",".join(
                f"{f.name}={_structural_key(getattr(x, f.name))}"
                for f in dataclasses.fields(x))
        else:  # non-dataclass node: identity from children only
            parts = ",".join(_structural_key(c) for c in x.children())
        return f"{type(x).__name__}({parts})"
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(_structural_key(v) for v in x) + "]"
    return repr(x)


def _strip_comments(sql: str) -> str:
    """Remove -- line and /* */ block comments, quote-aware: comment
    markers inside ' " ` quoted spans are preserved verbatim."""
    out = []
    i, n = 0, len(sql)
    in_q: Optional[str] = None
    while i < n:
        ch = sql[i]
        if in_q:
            out.append(ch)
            if ch == in_q:
                in_q = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            in_q = ch
            out.append(ch)
            i += 1
            continue
        if ch == "-" and sql[i:i + 2] == "--":
            j = sql.find("\n", i)
            i = n if j == -1 else j        # keep the newline
            continue
        if ch == "/" and sql[i:i + 2] == "/*":
            j = sql.find("*/", i + 2)
            if j == -1:
                raise SqlParseError("unterminated block comment")
            out.append(" ")
            i = j + 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def tokenize(sql: str) -> List[Tuple[str, str]]:
    out, pos = [], 0
    sql = _strip_comments(sql)
    sql = sql.strip().rstrip(";")
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m or m.end() == pos:
            raise SqlParseError(f"cannot tokenize at: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup == "num":
            out.append(("num", m.group("num")))
        elif m.lastgroup == "str":
            out.append(("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.lastgroup == "qid":
            q = m.group("qid")
            out.append(("id", q[1:-1].replace(q[0] * 2, q[0])))
        elif m.lastgroup == "id":
            out.append(("id", m.group("id")))
        elif m.lastgroup == "param":
            # $1 / :name parameter markers (r13, VERDICT r12 Next #2):
            # lex as their own kind so engine.sql can parse + bind
            # them through the plan IR instead of degrading every
            # parameterized query to the per-table-view fallback
            out.append(("param", m.group("param")))
        else:
            out.append(("op", m.group("op")))
    return out


class _Scope:
    """FROM-clause aliases visible at one query level (for correlation
    detection in subqueries)."""

    def __init__(self, parent: Optional["_Scope"] = None):
        self.names: set = set()
        self.parent = parent

    def add(self, name: str):
        self.names.add(name.lower())

    def is_local(self, qualifier: str) -> bool:
        return qualifier.lower() in self.names

    def is_outer(self, qualifier: str) -> bool:
        s = self.parent
        while s is not None:
            if s.is_local(qualifier):
                return True
            s = s.parent
        return False


class Parser:
    def __init__(self, sql: str, resolve_table: Callable[[str], Any]):
        self.toks = tokenize(sql)
        self.i = 0
        self.resolve_table = resolve_table
        self.ctes: dict = {}          # name -> Plan (WITH clauses)

    # -- token helpers -----------------------------------------------------
    def peek(self, k: int = 0) -> Optional[Tuple[str, str]]:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return (t is not None and t[0] == "id"
                and t[1].upper() in kws)

    def take(self) -> Tuple[str, str]:
        t = self.peek()
        if t is None:
            raise SqlParseError("unexpected end of input")
        self.i += 1
        return t

    def expect_kw(self, kw: str):
        if not self.at_kw(kw):
            raise SqlParseError(f"expected {kw} at {self.peek()}")
        self.take()

    def accept_kw(self, *kws: str) -> bool:
        if self.at_kw(*kws):
            self.take()
            return True
        return False

    def expect_op(self, op: str):
        t = self.take()
        if t != ("op", op):
            raise SqlParseError(f"expected {op!r}, got {t}")

    def accept_op(self, op: str) -> bool:
        if self.peek() == ("op", op):
            self.take()
            return True
        return False

    # -- entry -------------------------------------------------------------
    def parse(self) -> Plan:
        if self.accept_kw("WITH"):
            recursive = self.accept_kw("RECURSIVE")
            while True:
                name = self.take()[1]
                cols = None
                if self.peek() == ("op", "("):
                    # declared column list: WITH [RECURSIVE] t(a, b) AS
                    self.take()
                    cols = []
                    while True:
                        t = self.take()
                        if t[0] != "id":
                            raise SqlParseError(
                                f"expected column name in CTE column "
                                f"list, got {t}")
                        cols.append(t[1])
                        if not self.accept_op(","):
                            break
                    self.expect_op(")")
                self.expect_kw("AS")
                self.expect_op("(")
                if recursive:
                    # pre-bind the name so self-references inside the
                    # body resolve to the working-table leaf
                    self.ctes[name.lower()] = RecursiveRef(name)
                    body = self.parse_query(_Scope())
                    self.ctes[name.lower()] = self._finish_recursive_cte(
                        name, cols, body)
                else:
                    if cols is not None:
                        raise SqlParseError(
                            "CTE column lists are supported only under "
                            "WITH RECURSIVE")
                    self.ctes[name.lower()] = self.parse_query(_Scope())
                self.expect_op(")")
                if recursive and self.at_kw("SEARCH", "CYCLE"):
                    self.ctes[name.lower()] = self._apply_search_cycle(
                        name, self.ctes[name.lower()])
                if not self.accept_op(","):
                    break
        plan = self.parse_query(_Scope())
        if self.peek() is not None:
            raise SqlParseError(f"trailing tokens at {self.peek()}")
        return plan

    # -- WITH RECURSIVE ----------------------------------------------------
    def _walk_with_subqueries(self, p: Plan):
        """walk_plan plus descent into expression-held subquery plans,
        tagging each node with whether it sits inside such an
        expression (Postgres refuses working-table references there;
        our fixpoint compiler never substitutes into them either)."""
        from .expressions import (
            Exists, InSubquery, ScalarSubquery, SetComparison,
            walk as walk_expr)
        stack = [(p, False)]
        while stack:
            node, in_expr = stack.pop()
            yield node, in_expr
            for e in node.exprs():
                for x in walk_expr(e):
                    if isinstance(x, (Exists, InSubquery, ScalarSubquery,
                                      SetComparison)):
                        stack.append((x.plan, True))
            for k in node.inputs():
                stack.append((k, in_expr))

    def _finish_recursive_cte(self, name: str, cols, body: Plan) -> Plan:
        """Split a WITH RECURSIVE body ``base UNION [ALL] step`` into a
        RecursiveCTE fixpoint node. A body with no self-reference is an
        ordinary CTE (the RECURSIVE keyword permits, not mandates,
        recursion — Postgres/DuckDB semantics)."""
        def has_ref(p: Plan) -> bool:
            return any(isinstance(n, RecursiveRef) and
                       n.name.lower() == name.lower()
                       for n, _ in self._walk_with_subqueries(p))

        if not has_ref(body):
            if cols is None:
                return body
            from .compiler import _plan_output_cols
            inner = _plan_output_cols(body)
            if inner is None or len(inner) != len(cols):
                raise SqlParseError(
                    f"cannot apply CTE column list to '{name}': output "
                    f"columns unknown or arity mismatch")
            return Project(SubqueryAlias(body, name),
                           [Alias(Col(i, table=name), c)
                            for i, c in zip(inner, cols)])

        if not isinstance(body, Union):
            raise SqlParseError(
                f"recursive CTE '{name}' must be "
                f"'base UNION [ALL] step' at the top level")
        base_branches = [b for b in body.branches if not has_ref(b)]
        step_branches = [b for b in body.branches if has_ref(b)]
        if not base_branches:
            raise SqlParseError(
                f"recursive CTE '{name}' has no non-recursive branch")
        for b in step_branches:
            hits = [(n, in_expr)
                    for n, in_expr in self._walk_with_subqueries(b)
                    if isinstance(n, RecursiveRef)
                    and n.name.lower() == name.lower()]
            if len(hits) > 1:
                raise SqlParseError(
                    f"recursive CTE '{name}': the recursive term may "
                    f"reference the working table only once")
            if hits[0][1]:
                raise SqlParseError(
                    f"recursive CTE '{name}': working-table reference "
                    f"inside a subquery expression is unsupported")
            for n, _ in self._walk_with_subqueries(b):
                if isinstance(n, (Aggregate, SetOp)) and has_ref(n):
                    raise SqlParseError(
                        f"recursive CTE '{name}': working-table "
                        f"reference under "
                        f"{'aggregation' if isinstance(n, Aggregate) else 'EXCEPT/INTERSECT'}"
                        f" is unsupported")
                if isinstance(n, Limit) and has_ref(n):
                    raise SqlParseError(
                        f"recursive CTE '{name}': LIMIT over the "
                        f"working table is unsupported")
        base = (base_branches[0] if len(base_branches) == 1
                else Union(base_branches, all=body.all))
        step = (step_branches[0] if len(step_branches) == 1
                else Union(step_branches, all=body.all))
        return RecursiveCTE(name, cols, base, step, union_all=body.all)

    def _apply_search_cycle(self, name: str, node: Plan) -> Plan:
        """SQL:1999 / Postgres 14 SEARCH and CYCLE clauses, desugared at
        parse time into extra projection columns over the fixpoint —
        exactly Postgres's documented manual rewrite:

          SEARCH DEPTH FIRST BY c SET o   ->  o = path array of c values
          SEARCH BREADTH FIRST BY c SET o ->  o = struct(level, c...)
          CYCLE c SET m USING p           ->  p = visited-key array,
                                              m = new key already in p;
                                              marked rows never recurse
                                              (compiler gates on m)

        The appended expressions are local-only SparkCol wrappers
        (unparse refuses), so a fully-remote base/step claim degrades
        to compiling locally rather than shipping engine-specific
        array/struct spellings. The single-key form tracks bare values;
        multi-key forms track structs of the keys."""
        from pyspark.sql import functions as F

        from .compiler import _plan_output_cols
        from .expressions import SparkCol, Star

        search = None                     # (depth: bool, by: [str], col)
        if self.accept_kw("SEARCH"):
            if self.accept_kw("DEPTH"):
                depth = True
            elif self.accept_kw("BREADTH"):
                depth = False
            else:
                raise SqlParseError("expected DEPTH or BREADTH after "
                                    "SEARCH")
            self.expect_kw("FIRST")
            self.expect_kw("BY")
            by = [self.take()[1]]
            while self.accept_op(","):
                by.append(self.take()[1])
            self.expect_kw("SET")
            search = (depth, by, self.take()[1])
        def _mark_literal():
            """Constant for CYCLE ... TO v DEFAULT dv: number, string,
            TRUE/FALSE (Postgres 14 requires constants)."""
            neg = False
            if self.peek() == ("op", "-"):
                self.take()
                neg = True
            t = self.take()
            if t[0] == "num":
                v = float(t[1]) if "." in t[1] else int(t[1])
                return -v if neg else v
            if neg:
                raise SqlParseError("CYCLE mark value: '-' before a "
                                    "non-numeric constant")
            if t[0] == "str":
                return t[1]
            if t[0] == "id" and t[1].upper() in ("TRUE", "FALSE"):
                return t[1].upper() == "TRUE"
            raise SqlParseError(
                f"CYCLE mark value must be a constant, got {t!r}")

        cycle = None            # (by: [str], mark, path, to_v, dflt_v)
        if self.accept_kw("CYCLE"):
            by = [self.take()[1]]
            while self.accept_op(","):
                by.append(self.take()[1])
            self.expect_kw("SET")
            mark = self.take()[1]
            to_v, dflt_v = True, False
            if self.accept_kw("TO"):
                # r9 (graduated from a refusal): custom mark values —
                # CYCLE c SET m TO 'Y' DEFAULT 'N' USING p. Postgres 14
                # semantics: both constants, same type, distinct.
                to_v = _mark_literal()
                self.expect_kw("DEFAULT")
                dflt_v = _mark_literal()
                if to_v is None or dflt_v is None or to_v == dflt_v \
                        or type(to_v) is not type(dflt_v):
                    raise SqlParseError(
                        "CYCLE mark values must be distinct non-NULL "
                        "constants of one type")
            self.expect_kw("USING")
            cycle = (by, mark, self.take()[1], to_v, dflt_v)

        if not isinstance(node, RecursiveCTE):
            raise SqlParseError(
                f"SEARCH/CYCLE require '{name}' to actually recurse")
        base, step = node.base, node.step
        if not isinstance(base, Project) or not isinstance(step, Project):
            raise SqlParseError(
                "SEARCH/CYCLE need plain SELECT base and step terms")
        if any(isinstance(e, Star) for e in
               list(base.projections) + list(step.projections)):
            raise SqlParseError(
                "SEARCH/CYCLE over `*` terms: list the columns "
                "explicitly")
        outs = (list(node.cols) if node.cols is not None
                else _plan_output_cols(base))
        if outs is None:
            raise SqlParseError(
                f"SEARCH/CYCLE: output columns of '{name}' unknown")
        low = [c.lower() for c in outs]

        def branch_irs(proj, by):
            es = []
            for c in by:
                if c.lower() not in low:
                    raise SqlParseError(
                        f"SEARCH/CYCLE BY column '{c}' is not an "
                        f"output column of '{name}'")
                item = proj.projections[low.index(c.lower())]
                es.append(item.expr if isinstance(item, Alias) else item)
            return es

        def key(irs, by):
            # built lazily (inside SparkCol factories): parse time must
            # stay session-free — F.lit/F.struct need an active context
            es = [e.to_spark() for e in irs]
            return (es[0] if len(es) == 1 else
                    F.struct(*[e.alias(c) for e, c in zip(es, by)]))

        new_cols = list(outs)
        base_items = list(base.projections)
        step_items = list(step.projections)

        def append(bexpr, sexpr, col):
            if col.lower() in [c.lower() for c in new_cols]:
                raise SqlParseError(
                    f"SEARCH/CYCLE SET column '{col}' collides with an "
                    f"output column of '{name}'")
            base_items.append(Alias(SparkCol(bexpr, col), col))
            step_items.append(Alias(SparkCol(sexpr, col), col))
            new_cols.append(col)

        if search is not None:
            depth, by, oc = search
            bi, si = branch_irs(base, by), branch_irs(step, by)
            if depth:
                append(lambda: F.array(key(bi, by)),
                       lambda: F.array_append(F.col(oc), key(si, by)),
                       oc)
            else:
                append(
                    lambda: F.struct(
                        F.lit(0).cast("bigint").alias("level"),
                        key(bi, by).alias("k")),
                    lambda: F.struct(
                        (F.col(oc)["level"] + F.lit(1)).alias("level"),
                        key(si, by).alias("k")),
                    oc)
        if cycle is not None:
            by2, mark, pc, to_v, dflt_v = cycle
            bi2, si2 = branch_irs(base, by2), branch_irs(step, by2)
            if to_v is True and dflt_v is False:
                append(lambda: F.lit(False),
                       lambda: F.array_contains(F.col(pc), key(si2, by2)),
                       mark)
            else:
                # custom mark values (r9): CASE contains THEN to_v
                # ELSE dflt_v — the mark is never NULL
                append(lambda: F.lit(dflt_v),
                       lambda: F.when(
                           F.array_contains(F.col(pc), key(si2, by2)),
                           F.lit(to_v)).otherwise(F.lit(dflt_v)),
                       mark)
            append(lambda: F.array(key(bi2, by2)),
                   lambda: F.array_append(F.col(pc), key(si2, by2)),
                   pc)

        # UNION (distinct) recursion (r9, graduated from a refusal):
        # Postgres computes set-op distinctness on the USER columns
        # only — the appended seq/mark/path columns are excluded from
        # the dedup key (rewriteSearchCycle.c keeps them out of the
        # duplicate elimination). dedup_cols carries that key to the
        # compiler's fixpoint; first-seen row wins, within-round ties
        # resolve to the minimal appended tuple (= lexicographically-
        # minimal shortest path for CYCLE).
        return RecursiveCTE(
            name, new_cols,
            Project(base.input, base_items),
            Project(step.input, step_items),
            union_all=node.union_all,
            max_iterations=node.max_iterations,
            cycle_col=cycle[1] if cycle is not None else None,
            dedup_cols=None if node.union_all else list(outs),
            cycle_mark_value=cycle[3] if cycle is not None else True)

    # query := intersect_chain ((UNION [ALL]|EXCEPT [ALL])
    #          intersect_chain)* [ORDER BY ...] [LIMIT ...]
    # INTERSECT binds TIGHTER than UNION/EXCEPT (standard SQL, matched by
    # Spark and DuckDB): A UNION B INTERSECT C = A UNION (B INTERSECT C).
    def parse_query(self, outer: _Scope) -> Plan:
        self._pending_don = None
        plan = self._parse_intersect_chain(outer)
        while True:
            if getattr(self, "_pending_don", None) is not None \
                    and self.at_kw("UNION", "EXCEPT"):
                raise SqlParseError(
                    "DISTINCT ON inside set operations is outside the "
                    "parser surface")
            if self.accept_kw("UNION"):
                allq = self.accept_kw("ALL")
                rhs = self._parse_intersect_chain(outer)
                if isinstance(plan, Union) and plan.all == allq:
                    plan = Union([*plan.branches, rhs], all=allq)
                else:
                    plan = Union([plan, rhs], all=allq)
            elif self.at_kw("EXCEPT"):
                self.take()
                allq = self.accept_kw("ALL")
                rhs = self._parse_intersect_chain(outer)
                plan = SetOp(plan, rhs, "EXCEPT", allq)
            else:
                break
        don = getattr(self, "_pending_don", None)
        self._pending_don = None
        if don is not None:
            plan = self._apply_distinct_on(plan, don, outer)
        plan = self._order_limit(plan, outer)
        return plan

    def _apply_distinct_on(self, plan: Plan, don, scope: _Scope) -> Plan:
        """DISTINCT ON (e1, ...) rewritten through the QUALIFY
        machinery: row_number() OVER (PARTITION BY e1.. ORDER BY
        <residual sort keys>) = 1. The Postgres rule is enforced — the
        ON expressions must be the INITIAL ORDER BY expressions — plus
        one repo-deliberate tightening: at least one residual sort key
        must remain, because with none "the" row per group is
        engine-arbitrary (Postgres/DuckDB allow it; this engine never
        returns nondeterministic results)."""
        don_exprs, items = don
        if not self.accept_kw("ORDER"):
            raise SqlParseError(
                "DISTINCT ON requires ORDER BY (the ON expressions "
                "first, then at least one tie-break key)")
        self.expect_kw("BY")
        keys = [self.parse_sort_key(scope)]
        while self.accept_op(","):
            keys.append(self.parse_sort_key(scope))
        if len(keys) <= len(don_exprs) or any(
                self._expr_key(k.expr) != self._expr_key(e)
                for k, e in zip(keys, don_exprs)):
            raise SqlParseError(
                "DISTINCT ON expressions must match the initial ORDER "
                "BY expressions, followed by >= 1 tie-break key")
        residual = keys[len(don_exprs):]
        rn = WindowFunc(Func("row_number", []),
                        partition_by=tuple(don_exprs),
                        order_by=tuple(residual))
        if any(isinstance(e, Star) for e, _ in items):
            raise SqlParseError(
                "DISTINCT ON with `*` is outside the parser surface; "
                "list the output columns")
        if not isinstance(plan, Project):
            raise SqlParseError(
                "DISTINCT ON over this query shape is unsupported")
        out_names = [name or e.output_name() for e, name in items]
        # hidden columns: the row_number itself, plus any base column
        # the sort keys reference that the select list does not expose
        # (the Sort sits BELOW the restoring projection so the remote
        # unparse orders by live columns)
        hidden = [Alias(rn, "__don_rn")]
        carried = set(out_names) | {"__don_rn"}
        for k in keys:
            for c in self._base_cols(k.expr):
                if c.table is None and c.name not in carried:
                    carried.add(c.name)
                    hidden.append(Alias(Col(c.name), c.name))
        aug = Project(plan.input, list(plan.projections) + hidden)
        filt = Filter(aug, BinaryOp("=", Col("__don_rn"), Lit(1)))
        return Project(Sort(filt, keys), [Col(n) for n in out_names])

    def _parse_intersect_chain(self, outer: _Scope) -> Plan:
        if self.at_kw("PIVOT"):
            plan = self._parse_pivot_statement(outer)
        elif self.at_kw("UNPIVOT"):
            plan = self._parse_unpivot_statement(outer)
        else:
            plan = self._parse_set_operand(outer)
        while self.at_kw("INTERSECT"):
            if getattr(self, "_pending_don", None) is not None:
                raise SqlParseError(
                    "DISTINCT ON inside set operations is outside the "
                    "parser surface")
            self.take()
            allq = self.accept_kw("ALL")
            rhs = self._parse_set_operand(outer)
            plan = SetOp(plan, rhs, "INTERSECT", allq)
        return plan

    def _parse_set_operand(self, outer: _Scope) -> Plan:
        """One branch of a set-operation chain: a SELECT, or a whole
        parenthesized query (``a EXCEPT (b UNION c)``, ``(a LIMIT 3)
        UNION b``) whose ORDER BY / LIMIT stay inside the parens."""
        if self.peek() != ("op", "("):
            return self.parse_select(outer)
        self.take()
        plan = self.parse_query(outer)
        self.expect_op(")")
        return plan

    def _order_limit(self, plan: Plan, scope: _Scope) -> Plan:
        has_order = self.at_kw("ORDER")
        if self.accept_kw("ORDER"):
            self.expect_kw("BY")
            if self._at_bare_all():
                self.take()
                keys = self._order_by_all_keys(plan)
                if self.accept_op(","):
                    raise SqlParseError(
                        "ORDER BY ALL cannot be combined with further "
                        "sort keys")
            else:
                keys = [self.parse_sort_key(scope)]
                while self.accept_op(","):
                    keys.append(self.parse_sort_key(scope))
            plan = self._sort_with_hidden(plan, keys)
        fetch = skip = None
        if self.accept_kw("LIMIT"):
            fetch = int(self.take()[1])
        if self.accept_kw("OFFSET"):
            skip = int(self.take()[1])
            self.accept_kw("ROWS") or self.accept_kw("ROW")  # ANSI noise
        if self.accept_kw("LIMIT"):        # OFFSET n LIMIT m order
            fetch = int(self.take()[1])
        if fetch is None and self.accept_kw("FETCH"):
            # ANSI spelling: FETCH FIRST|NEXT [n] ROW[S] ONLY
            if not (self.accept_kw("FIRST") or self.accept_kw("NEXT")):
                raise SqlParseError("expected FIRST or NEXT after FETCH")
            t = self.peek()
            fetch = 1
            if t is not None and t[0] == "num":
                fetch = int(self.take()[1])
            if not (self.accept_kw("ROWS") or self.accept_kw("ROW")):
                raise SqlParseError("expected ROW[S] in FETCH clause")
            if self.accept_kw("WITH"):
                self.expect_kw("TIES")
                if not has_order:
                    # ANSI: WITH TIES without ORDER BY is an error (the
                    # peer relation is undefined) — engines agree
                    raise SqlParseError(
                        "FETCH ... WITH TIES requires ORDER BY")
                with_ties = True
            else:
                self.expect_kw("ONLY")
                with_ties = False
            if fetch is not None or skip is not None:
                return Limit(plan, fetch=fetch, skip=skip,
                             with_ties=with_ties)
        if fetch is not None or skip is not None:
            plan = Limit(plan, fetch=fetch, skip=skip)
        return plan

    def _sort_with_hidden(self, plan: Plan, keys: List[SortKey]) -> Plan:
        """ORDER BY over columns the select list does not expose
        (standard SQL: ``SELECT n_name FROM nation ORDER BY
        n_nationkey``). Over a plain non-star Project, the referenced
        base columns are carried as hidden projection columns, the Sort
        runs over the widened frame, and a restoring projection drops
        them — the DISTINCT-ON carry pattern (and the same
        Project(Sort(Project)) shape the unparser already renders).
        Other shapes (stars expose everything; aggregates/DISTINCT keep
        their engines' stricter rules) pass through unchanged."""
        from .compiler import _plan_output_cols
        if not isinstance(plan, Project) \
                or any(isinstance(e, Star) for e in plan.projections):
            return Sort(plan, keys)
        outs = _plan_output_cols(plan)
        if outs is None:
            return Sort(plan, keys)
        carried = set(outs)
        hidden: List[Alias] = []
        for k in keys:
            for c in self._base_cols(k.expr):
                if c.table is None and c.name not in carried:
                    carried.add(c.name)
                    hidden.append(Alias(Col(c.name), c.name))
        if not hidden:
            return Sort(plan, keys)
        aug = Project(plan.input, list(plan.projections) + hidden)
        return Project(Sort(aug, keys), [Col(n) for n in outs])

    def _order_by_all_keys(self, plan: Plan) -> List[SortKey]:
        """ORDER BY ALL [ASC|DESC] [NULLS FIRST|LAST] (DuckDB/
        Snowflake): one sort key per OUTPUT column, in output order,
        all sharing the one direction/null placement. Keys reference
        output names, so they bind after projection exactly like an
        alias in a plain ORDER BY. Shapes whose output list is unknown
        (a surviving `*`, set-ops over them) refuse loudly rather than
        guess a column order DuckDB would not use."""
        asc = True
        if self.accept_kw("ASC"):
            asc = True
        elif self.accept_kw("DESC"):
            asc = False
        nulls = None
        if self.accept_kw("NULLS"):
            nulls = self.accept_kw("FIRST")
            if not nulls:
                self.expect_kw("LAST")
                nulls = False
        from .compiler import _plan_output_cols
        from .plans.nodes import Distinct, Limit as _L, Sort as _S
        p = plan
        while isinstance(p, (Distinct, _S, _L)):
            p = p.inputs()[0]
        cols = _plan_output_cols(p)
        if not cols:
            raise SqlParseError(
                "ORDER BY ALL over this query shape is outside the "
                "parser surface (unknown output column list)")
        return [SortKey(Col(c), ascending=asc, nulls_first=nulls)
                for c in cols]

    def parse_sort_key(self, scope: _Scope) -> SortKey:
        e = self.parse_expr(scope)
        asc = True
        if self.accept_kw("ASC"):
            asc = True
        elif self.accept_kw("DESC"):
            asc = False
        nulls = None
        if self.accept_kw("NULLS"):
            nulls = self.accept_kw("FIRST")
            if not nulls:
                self.expect_kw("LAST")
                nulls = False
        return SortKey(e, ascending=asc, nulls_first=nulls)

    def _at_distinct_from(self) -> bool:
        """Whether the FROM at the cursor ends ``IS [NOT] DISTINCT``."""
        prev = [t[1].upper() if t[0] == "id" else None
                for t in self.toks[max(self.i - 2, 0):self.i]]
        return prev[-2:] in (["IS", "DISTINCT"], ["NOT", "DISTINCT"])

    # select_stmt := SELECT [DISTINCT] items FROM ... [WHERE] [GROUP BY]
    #                [HAVING]
    def parse_select(self, outer: _Scope) -> Plan:
        self.expect_kw("SELECT")
        distinct = self.accept_kw("DISTINCT")
        scope = _Scope(parent=outer)

        # Two-pass: the FROM clause populates the scope BEFORE the select
        # list parses, so a subquery alias that shadows an outer alias
        # resolves locally instead of becoming a bogus OuterRef (which
        # would mis-mark the query correlated and block federation).
        # Scan ahead to the top-level FROM (subquery/function FROMs sit
        # inside parens), parse FROM, rewind for the items, then jump
        # past the FROM clause again.
        i_items = self.i
        depth = 0
        i_from = None
        while True:
            t = self.peek()
            if t is None:
                break
            if t == ("op", "("):
                depth += 1
            elif t == ("op", ")"):
                if depth == 0:
                    break              # closing a parent's paren
                depth -= 1
            elif depth == 0 and t[0] == "id":
                u = t[1].upper()
                if u == "FROM" and not self._at_distinct_from():
                    i_from = self.i
                    break
                if u in ("UNION", "EXCEPT", "INTERSECT"):
                    # `* EXCEPT (cols)` is the star-option, not a set-op
                    # boundary — only the `*`-preceded form (a bare
                    # set-op EXCEPT after `SELECT *` is impossible: FROM
                    # would have terminated this scan first)
                    if u == "EXCEPT" and self.i > i_items \
                            and self.toks[self.i - 1] == ("op", "*"):
                        self.i += 1
                        continue
                    break              # set-op boundary: next branch
            self.i += 1
        if i_from is None:
            # no FROM clause: `SELECT <exprs>` over one constant row
            # (DataFusion EmptyRelation produce_one_row — also the
            # recursive-CTE base term's idiomatic shape)
            plan: Plan = OneRow()
            i_after_from = None
        else:
            self.i = i_from
            self.expect_kw("FROM")
            plan = self.parse_from(scope)
            i_after_from = self.i

        self.i = i_items
        don_exprs = None
        if distinct and self.accept_kw("ON"):
            # DISTINCT ON (exprs): DataFusion/Postgres/DuckDB extension
            # — first row per ON-group under the query's ORDER BY.
            # Parsed here (scope now exists); applied at the query
            # level where ORDER BY is known (r6).
            self.expect_op("(")
            don_exprs = [self.parse_expr(scope)]
            while self.accept_op(","):
                don_exprs.append(self.parse_expr(scope))
            self.expect_op(")")
        items = [self.parse_select_item(scope)]
        while self.accept_op(","):
            items.append(self.parse_select_item(scope))
        if i_after_from is not None:
            if not self.at_kw("FROM"):
                raise SqlParseError(
                    f"select list ended at {self.peek()}, expected FROM")
            self.i = i_after_from
        # fromless: the items parse already stopped at the clause that
        # ended the select list (WHERE/UNION/ORDER/')'/end)

        if self.accept_kw("WHERE"):
            plan = Filter(plan, self.parse_expr(scope))

        group_by: List[Expr] = []
        if self.accept_kw("GROUP"):
            self.expect_kw("BY")
            if self._at_bare_all():
                self.take()
                group_by = self._group_by_all_keys(items)
            else:
                group_by = self._parse_group_by_list(scope, items)

        having = None
        if self.accept_kw("HAVING"):
            having = self.parse_expr(scope)

        # WINDOW w AS (spec) and QUALIFY sit between HAVING and ORDER BY
        # (either order accepted); `OVER w` references were parsed
        # earlier as placeholders and resolve once both have been read
        windows: dict = {}
        qualify: Optional[Expr] = None
        while True:
            if qualify is None and self.accept_kw("QUALIFY"):
                qualify = self.parse_expr(scope)
                continue
            if not windows and self.accept_kw("WINDOW"):
                while True:
                    wname = self.take()[1].lower()
                    self.expect_kw("AS")
                    self.expect_op("(")
                    part, order, frame, base = self._window_spec(scope)
                    self.expect_op(")")
                    if base is not None:
                        # chained definition: WINDOW w2 AS (w1 ...) —
                        # the standard requires the base to be defined
                        # EARLIER in the clause
                        if base not in windows:
                            raise SqlParseError(
                                f"window {wname!r} chains off undefined "
                                f"window {base!r}")
                        part, order, frame = self._merge_window(
                            windows[base], part, order, frame)
                    windows[wname] = (part, order, frame)
                    if not self.accept_op(","):
                        break
                continue
            break
        qitems = items + ([(qualify, None)] if qualify is not None else [])
        self._resolve_named_windows(qitems, having, windows)

        plan = self._assemble(plan, items, distinct, group_by, having,
                              qualify, don_exprs)
        return plan

    def _at_bare_all(self) -> bool:
        """True when the cursor sits on the keyword ALL used as the
        GROUP BY ALL / ORDER BY ALL shorthand (DuckDB/Snowflake) — a
        bare ALL not starting a longer expression (``all.c`` qualified
        ref or ``all(...)`` call would make it an identifier)."""
        if not self.at_kw("ALL"):
            return False
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) \
            else None
        return nxt not in (("op", "."), ("op", "("))

    def _group_by_all_keys(self, items) -> List[Expr]:
        """GROUP BY ALL (DuckDB/Snowflake): every select item NOT
        containing an aggregate call becomes a group key, in select
        order; all-aggregate select lists degrade to the ungrouped
        single-row aggregate — both exactly DuckDB's rule, so the
        oracle runs identical SQL. Star and window-function items
        refuse loudly (DuckDB errors on the window form too:
        'window functions are not allowed in GROUP BY')."""
        from .expressions import walk
        keys: List[Expr] = []
        for e, _name in items:
            if isinstance(e, Star):
                raise SqlParseError(
                    "GROUP BY ALL with `*` is outside the parser "
                    "surface; list the output columns")
            if self._contains_agg(e):
                continue
            if any(isinstance(x, WindowFunc) for x in walk(e)):
                raise SqlParseError(
                    "GROUP BY ALL cannot take a window-function item "
                    "as a group key")
            keys.append(e)
        return keys

    def _parse_group_by_list(self, scope: _Scope, items) -> List[Expr]:
        group_by = [self.parse_group_item(scope)]
        while self.accept_op(","):
            group_by.append(self.parse_group_item(scope))
        # GROUP BY ordinals (1-based positions into the select list)
        group_by = [
            items[g.value - 1][0]
            if isinstance(g, Lit) and isinstance(g.value, int)
            and 1 <= g.value <= len(items) else g
            for g in group_by]
        # GROUP BY select-list alias (Spark/DuckDB both allow it):
        # a bare name matching an item alias groups by that item's
        # expression. (If a real input column shadows the alias the
        # engines prefer the column; that pathological shadowing case
        # is accepted as alias-first here.)
        alias_map = {name.lower(): e for e, name in items
                     if name and not isinstance(e, AggFunc)}

        def _sub_alias(g: Expr) -> Expr:
            if not (isinstance(g, Col) and g.table is None
                    and g.name.lower() in alias_map):
                return g
            from .expressions import walk
            e = alias_map[g.name.lower()]
            if isinstance(e, Col) and e.name.lower() == g.name.lower():
                return e            # trivial self-alias: identical
            if any(isinstance(x, Col)
                   and x.name.lower() == g.name.lower()
                   for x in walk(e)):
                # `substr(c,1,1) AS c ... GROUP BY c`: engines
                # resolve the COLUMN first; substituting the alias
                # would silently change the grouping — refuse so
                # the Spark parser handles it with its own rules
                raise SqlParseError(
                    f"GROUP BY {g.name!r} is ambiguous: the alias "
                    "shadows a column its own expression references")
            return e

        group_by = [_sub_alias(g) for g in group_by]
        return group_by

    def _merge_window(self, base_spec, part, order, frame):
        """SQL:2003 window inheritance: the base window supplies the
        partitioning (the child must not re-specify it), ordering may
        be added only when the base has none, and the base must carry
        no frame (a framed window cannot be referenced)."""
        bpart, border, bframe = base_spec
        if not part and not order and frame is None:
            # bare `OVER w`: the named window applies whole, frame
            # included — the no-frame rule below restricts CHAINING
            return bpart, border, bframe
        if part:
            raise SqlParseError(
                "a chained window cannot specify PARTITION BY (it "
                "inherits the base window's partitioning)")
        if border and order:
            raise SqlParseError(
                "a chained window cannot add ORDER BY when the base "
                "window already orders")
        if bframe is not None:
            raise SqlParseError(
                "a window with a frame clause cannot be chained from")
        return bpart, (order or border), frame

    def _resolve_named_windows(self, items, having, windows) -> None:
        from .expressions import walk
        roots = [e for e, _ in items]
        if having is not None:
            roots.append(having)
        for root in roots:
            for x in walk(root):
                name = getattr(x, "_named_ref", None)
                if not (isinstance(x, WindowFunc) and name):
                    continue
                if name not in windows:
                    raise SqlParseError(f"unknown window name {name!r}")
                part, order, frame = self._merge_window(
                    windows[name], list(x.partition_by),
                    list(x.order_by), x.frame)
                x.partition_by, x.order_by, x.frame = part, order, frame
                x._named_ref = None

    def parse_group_item(self, scope: _Scope) -> Expr:
        if self.accept_kw("ROLLUP"):
            return Rollup(self._paren_expr_list(scope))
        if self.accept_kw("CUBE"):
            return Cube(self._paren_expr_list(scope))
        if self.at_kw("GROUPING"):
            self.take()
            self.expect_kw("SETS")
            self.expect_op("(")
            sets = []
            while True:
                if self.peek() == ("op", "("):
                    sets.append(self._paren_expr_list(scope))
                else:
                    sets.append([self.parse_expr(scope)])
                if not self.accept_op(","):
                    break
            self.expect_op(")")
            return GroupingSets(sets)
        return self.parse_expr(scope)

    def _paren_expr_list(self, scope: _Scope) -> List[Expr]:
        self.expect_op("(")
        if self.accept_op(")"):
            return []
        out = [self.parse_expr(scope)]
        while self.accept_op(","):
            out.append(self.parse_expr(scope))
        self.expect_op(")")
        return out

    def _assemble(self, plan: Plan, items, distinct, group_by, having,
                  qualify: Optional[Expr] = None,
                  don_exprs: Optional[List[Expr]] = None) -> Plan:
        has_agg = any(self._contains_agg(e) for e, _ in items) or group_by \
            or (having is not None)
        if has_agg:
            # aggregates: every select item that contains an agg call;
            # plain items must be group keys (validated loosely)
            aggs = []
            out_names = []
            post: dict = {}
            group_sql = {self._expr_key(g) for g in group_by
                         if not isinstance(g, (Rollup, Cube, GroupingSets))}
            for e, name in items:
                out = name or e.output_name()
                out_names.append(out)
                if self._contains_agg(e):
                    aggs.append(Alias(e, out))
                else:
                    # group key in the select list: alias it for output
                    if (self._expr_key(e) not in group_sql
                            and not self._in_grouping_sets(e, group_by)):
                        # an EXPRESSION over grouped columns (e.g.
                        # COALESCE(CAST(rollup_key AS string), 'ALL'))
                        # is standard SQL: compute it ABOVE the
                        # aggregate as a post-projection (r6 — the
                        # exact-key check used to reject it, forcing
                        # the Spark-parser fallback, which then choked
                        # on portable type names like bare VARCHAR)
                        cols = self._base_cols(e)
                        from .expressions import (
                            Exists as _Ex, InSubquery as _InS,
                            ScalarSubquery as _ScS, walk as _walkv)
                        has_subq = any(
                            isinstance(x, (_Ex, _InS, _ScS))
                            for x in _walkv(e))
                        if (cols or not has_subq) and all(
                                self._expr_key(c) in group_sql
                                or self._in_grouping_sets(c, group_by)
                                for c in cols):
                            # r12: an empty cols list means the item
                            # references NO columns — a constant under
                            # any grouping (SELECT 'x', COUNT(*) FROM t
                            # is legal everywhere) UNLESS it is a
                            # subquery (not a post-projection shape);
                            # with columns present the pre-r12 rule is
                            # unchanged: every referenced column must
                            # be grouped
                            post[out] = e
                            continue
                        raise SqlParseError(
                            f"non-aggregated column {out!r} not in GROUP BY")
            def _member_label(e: Expr):
                """select-list label for a grouping-set member, when an
                item matches it under a DIFFERENT name (r8 fuzzer find:
                `SELECT k AS a ... GROUP BY ROLLUP(k, ...)` restored
                Col('a') against an output named 'k')."""
                lbl = next((nm or it.output_name() for it, nm in items
                            if self._expr_key(it) == self._expr_key(e)),
                           None)
                if lbl is not None and lbl != e.output_name():
                    return Alias(e, lbl)
                return e

            new_group = []
            for g in group_by:
                if isinstance(g, Rollup):
                    new_group.append(
                        Rollup([_member_label(e) for e in g.exprs]))
                    continue
                if isinstance(g, Cube):
                    new_group.append(
                        Cube([_member_label(e) for e in g.exprs]))
                    continue
                if isinstance(g, GroupingSets):
                    new_group.append(GroupingSets(
                        [[_member_label(e) for e in s] for s in g.sets]))
                    continue
                # alias group keys with their select-list name when present
                label = next((nm or e.output_name() for e, nm in items
                              if self._expr_key(e) == self._expr_key(g)),
                             None)
                if label is not None and label != g.output_name():
                    new_group.append(Alias(g, label))
                else:
                    new_group.append(g)
            hidden = []
            if having is not None:
                having, hidden = self._extract_having_aggs(having, aggs)
            qhidden: List[Alias] = []
            if qualify is not None:
                # QUALIFY over an aggregate query (r7 s4): aggregate
                # calls inside the predicate — bare, or inside a
                # window's arguments/partition/order — become refs to
                # aggregate outputs (the HAVING treatment extended INTO
                # window specs), with hidden aggregates added when the
                # select list lacks them
                qualify = self._rewrite_qualify_aggs(qualify, aggs,
                                                     qhidden)
            plan = Aggregate(plan, new_group, aggs + hidden + qhidden)
            if having is not None:
                plan = Filter(plan, having)
            # The Aggregate node outputs group-keys-then-aggregates; when
            # the select list interleaves them differently (SELECT
            # COUNT(*), a FROM t GROUP BY a) a reorder projection
            # restores the written order — positional consumers (UNION
            # branches, INSERT) depend on it.
            natural = []
            for g in new_group:
                if isinstance(g, (Rollup, Cube)):
                    natural += [e.output_name() for e in g.exprs]
                elif isinstance(g, GroupingSets):
                    seen = set()
                    for s in g.sets:
                        for e in s:
                            n = e.output_name()
                            if n not in seen:
                                seen.add(n)
                                natural.append(n)
                else:
                    natural.append(g.output_name())
            natural += [a.name for a in aggs]
            if post:
                # the post-projection sits ABOVE the Aggregate, so its
                # column refs must name AGGREGATE OUTPUTS. Rebind every
                # group-key reference (qualified or not) to the key's
                # actual output label via full _expr_key match — the
                # r6 name-only guard ignored qualifiers, so a qualified
                # ref could collide with a same-named aggregate alias
                # and bind wrong (ADVICE r6); rebinding also makes
                # relabeled keys (SELECT t.k AS j, COALESCE(t.k,..))
                # compile correctly instead of being refused.
                from .compiler import _rewrite_expr
                key_label: dict = {}
                for g in new_group:
                    if isinstance(g, (Rollup, Cube)):
                        for e in g.exprs:
                            k = e.expr if isinstance(e, Alias) else e
                            key_label.setdefault(self._expr_key(k),
                                                 e.output_name())
                    elif isinstance(g, GroupingSets):
                        for s in g.sets:
                            for e in s:
                                k = e.expr if isinstance(e, Alias) else e
                                key_label.setdefault(self._expr_key(k),
                                                     e.output_name())
                    elif isinstance(g, Alias):
                        key_label[self._expr_key(g.expr)] = g.name
                    else:
                        key_label[self._expr_key(g)] = g.output_name()

                def _bind(x: Expr) -> Expr:
                    if isinstance(x, Col):
                        lbl = key_label.get(self._expr_key(x))
                        if lbl is not None:
                            return Col(lbl)
                    return x

                for out in list(post):
                    post[out] = _rewrite_expr(post[out], _bind)
                for out, e in post.items():
                    for c in self._base_cols(e):
                        if c.table is not None or c.name not in natural:
                            ref = (f"{c.table}.{c.name}" if c.table
                                   else c.name)
                            raise SqlParseError(
                                f"expression {out!r} references "
                                f"{ref!r}, which is not an output of "
                                "the aggregate (group key relabeled or "
                                "qualifier unresolvable); select the "
                                "key under its own name")
            if qualify is not None:
                if post:
                    raise SqlParseError(
                        "QUALIFY with post-aggregation key expressions "
                        "is outside the parser surface; alias the key "
                        "and compute the expression in an outer query")
                # expose the aggregate's outputs (plus the hidden
                # QUALIFY aggregates) so the window predicate can bind,
                # filter, then restore the select order — hidden
                # columns drop at the restore
                expose = list(dict.fromkeys(
                    natural + [a.name for a in qhidden]))
                plan = Project(plan, [Col(n) for n in expose])
                plan = self._apply_qualify(
                    plan, [(Col(n), n) for n in expose], qualify)
                plan = Project(plan, [Col(n) for n in out_names])
                qualify = None                 # consumed here
            elif hidden or natural != out_names or post:
                plan = Project(plan, [
                    Alias(post[n], n) if n in post else Col(n)
                    for n in out_names])
        else:
            if len(items) == 1 and isinstance(items[0][0], Star) \
                    and items[0][1] is None:
                plan = Project(plan, [items[0][0]])
            else:
                plan = Project(plan, [
                    Alias(e, name) if name else e for e, name in items])
        if qualify is not None:
            plan = self._apply_qualify(plan, items, qualify)
        if don_exprs is not None:
            if qualify is not None:
                raise SqlParseError(
                    "DISTINCT ON with QUALIFY is outside the parser "
                    "surface")
            self._pending_don = (don_exprs, items)
        elif distinct:
            plan = Distinct(plan)          # QUALIFY filters BEFORE DISTINCT
        return plan

    def _apply_qualify(self, plan: Plan, items, qualify: Expr) -> Plan:
        """QUALIFY (DuckDB/Snowflake): filter applied AFTER window
        functions evaluate. Window calls inside the predicate that match
        a select item collapse to its alias; unmatched windows AND input
        columns not in the select list become hidden projection columns
        dropped by a restoring Project (the HAVING hidden-aggregate
        pattern). Remotely the shape unparses as a derived table +
        WHERE — semantically identical."""
        from .compiler import _rewrite_expr
        from .expressions import walk
        existing = {self._expr_key(e): (name or e.output_name())
                    for e, name in items}
        hidden: List[Alias] = []

        def replace(x: Expr) -> Expr:
            if isinstance(x, WindowFunc):
                key = self._expr_key(x)
                if key in existing:
                    return Col(existing[key])
                name = f"__q{len(hidden)}"
                hidden.append(Alias(x, name))
                existing[key] = name
                return Col(name)
            return x

        pred = _rewrite_expr(qualify, replace)
        has_star = any(isinstance(e, Star) for e, _ in items)
        out_names = [name or e.output_name() for e, name in items]
        if not has_star:
            # a QUALIFY may reference FROM columns the select list does
            # not expose; Filter above the narrowed Project would fail
            # remotely with "column not found" — carry them as hidden
            missing = [x.name for x in walk(pred)
                       if isinstance(x, Col) and x.table is None
                       and x.name not in out_names
                       and x.name not in {h.name for h in hidden}]
            for m in dict.fromkeys(missing):
                hidden.append(Alias(Col(m), m))
        if hidden:
            if has_star:
                # a Star in the outer restoring projection would
                # re-expand the hidden columns back in
                raise SqlParseError(
                    "QUALIFY with a window call not in the select list "
                    "cannot combine with `*`; alias the window instead")
            if not isinstance(plan, Project):
                raise SqlParseError(
                    "QUALIFY over this query shape is unsupported")
            plan = Project(plan.input, list(plan.projections) + hidden)
            plan = Filter(plan, pred)
            return Project(plan, [Col(n) for n in out_names])
        return Filter(plan, pred)

    def _rewrite_qualify_aggs(self, qualify: Expr, aggs: List[Alias],
                              qhidden: List[Alias]) -> Expr:
        """QUALIFY-over-aggregates support: aggregate calls inside the
        predicate become references to aggregate OUTPUT columns, adding
        hidden aggregates when the select list lacks them — exactly the
        HAVING treatment, but it must also reach INSIDE window specs
        (``RANK() OVER (ORDER BY SUM(v))``) without touching the
        window's own call: a WindowFunc whose func is an AggFunc keeps
        that call and rewrites only its arguments/filter/order, plus
        the spec's partition and order expressions."""
        from .compiler import _rewrite_expr
        existing = {self._expr_key(a.expr): a.name for a in aggs}

        def sub_agg(x: Expr) -> Expr:
            if isinstance(x, AggFunc):
                key = self._expr_key(x)
                if key not in existing:
                    name = f"__qa{len(qhidden)}"
                    qhidden.append(Alias(x, name))
                    existing[key] = name
                return Col(existing[key])
            return x

        def skey(k: SortKey) -> SortKey:
            return SortKey(_rewrite_expr(k.expr, sub_agg),
                           k.ascending, k.nulls_first)

        def rew(x: Expr) -> Expr:
            if isinstance(x, WindowFunc):
                f = x.func
                if isinstance(f, AggFunc):
                    f = AggFunc(
                        f.name,
                        [_rewrite_expr(a, sub_agg) for a in f.args],
                        f.distinct,
                        (None if f.filter is None
                         else _rewrite_expr(f.filter, sub_agg)),
                        tuple(skey(k) for k in f.order_by),
                        f.within_group)
                return WindowFunc(
                    f,
                    tuple(_rewrite_expr(e, sub_agg)
                          for e in x.partition_by),
                    tuple(skey(k) for k in x.order_by),
                    x.frame, x.ignore_nulls)
            return sub_agg(x)

        return _rewrite_expr(qualify, rew)

    def _extract_having_aggs(self, having: Expr, aggs: List[Alias]):
        """Rewrite aggregate calls inside HAVING to references to output
        aggregates (adding hidden ones when absent): the filter then
        applies ABOVE the Aggregate, which both engines handle (derived
        table + WHERE remotely; plain filter locally)."""
        from .compiler import _rewrite_expr
        existing = {self._expr_key(a.expr): a.name for a in aggs}
        hidden: List[Alias] = []

        def replace(x: Expr) -> Expr:
            if isinstance(x, AggFunc):
                key = self._expr_key(x)
                if key in existing:
                    return Col(existing[key])
                name = f"__h{len(hidden)}"
                hidden.append(Alias(x, name))
                existing[key] = name
                return Col(name)
            return x

        return _rewrite_expr(having, replace), hidden

    def _base_cols(self, e: Expr):
        """All Col leaves of an expression (post-aggregation
        projection validation)."""
        out = []

        def walk(x):
            if isinstance(x, Col):
                out.append(x)
            for c in x.children():
                walk(c)

        walk(e)
        return out

    def _in_grouping_sets(self, e: Expr, group_by) -> bool:
        key = self._expr_key(e)
        for g in group_by:
            if isinstance(g, (Rollup, Cube)):
                if any(self._expr_key(m) == key for m in g.exprs):
                    return True
            elif isinstance(g, GroupingSets):
                if any(self._expr_key(m) == key
                       for s in g.sets for m in s):
                    return True
        return False

    @staticmethod
    def _expr_key(e: Expr) -> str:
        from .dialects import UnsupportedUnparse, get_dialect
        try:
            return e.to_sql(get_dialect("ansi"))
        except UnsupportedUnparse:
            # The key is only ever compared against other keys from this
            # function, so totality matters more than SQL fidelity: an
            # expression no dialect can spell (WITHIN GROUP aggregates,
            # DISTINCT window aggregates, frame EXCLUDE, ...) still needs
            # a stable identity for GROUP BY / HAVING / QUALIFY matching.
            # Fall back to a purely structural key; identical trees always
            # take the same branch, so keys stay comparable.
            return _structural_key(e)

    def _contains_agg(self, e: Expr) -> bool:
        # a window function is NOT an aggregate for grouping purposes,
        # even when its func is an AggFunc (SUM(x) OVER (...))
        if isinstance(e, WindowFunc):
            return False
        if isinstance(e, AggFunc):
            return True
        return any(self._contains_agg(c) for c in e.children())

    def parse_select_item(self, scope: _Scope):
        if self.peek() == ("op", "*"):
            self.take()
            return self._star_suffixes(Star(), scope), None
        e = self.parse_expr(scope)
        if isinstance(e, Star):
            # qualified t.* — may carry EXCEPT/EXCLUDE/REPLACE options;
            # a star never takes an alias
            return self._star_suffixes(e, scope), None
        name = None
        if self.accept_kw("AS"):
            name = self.take()[1]
        elif (self.peek() is not None and self.peek()[0] == "id"
              and not self.at_kw("FROM", "WHERE", "GROUP", "HAVING",
                                 "ORDER", "LIMIT", "OFFSET", "FETCH",
                                 "UNION",
                                 "INTERSECT", "EXCEPT", "JOIN", "ON",
                                 "INNER", "LEFT", "RIGHT", "FULL",
                                 "CROSS", "AND", "OR")):
            name = self.take()[1]
        return e, name

    def _star_suffixes(self, st: Star, scope: _Scope) -> Star:
        """`[t.]* [EXCEPT|EXCLUDE (col, ...)] [REPLACE (expr AS col, ...)]`
        wildcard options (DuckDB/Spark star modifiers). EXCEPT here is
        unambiguous: the select list ends at FROM, so a set-operation
        EXCEPT can never directly follow `*` — and we additionally require
        the parenthesized-list shape."""
        exclude: List[str] = []
        replace: List[Tuple[Expr, str]] = []
        while True:
            if (self.at_kw("EXCEPT", "EXCLUDE")
                    and self.peek(1) == ("op", "(")):
                self.take()
                self.expect_op("(")
                while True:
                    t = self.take()
                    if t[0] != "id":
                        raise SqlParseError(
                            f"expected column name in * EXCEPT, got {t}")
                    exclude.append(t[1])
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
                continue
            if self.at_kw("REPLACE") and self.peek(1) == ("op", "("):
                self.take()
                self.expect_op("(")
                while True:
                    x = self.parse_expr(scope)
                    self.expect_kw("AS")
                    replace.append((x, self.take()[1]))
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
                continue
            break
        if exclude or replace:
            return Star(table=st.table, replace=tuple(replace),
                        exclude=tuple(exclude))
        return st

    # -- FROM --------------------------------------------------------------
    def parse_from(self, scope: _Scope) -> Plan:
        plan = self.parse_relation(scope)
        while True:
            how = None
            if self.accept_kw("CROSS"):
                self.expect_kw("JOIN")
                if self.accept_kw("LATERAL"):
                    rhs = self.parse_relation(scope)
                    plan = LateralJoin(plan, rhs, how="cross")
                    continue
                rhs = self.parse_relation(scope)
                plan = Join(plan, rhs, how="cross")
                continue
            if self.accept_kw("ASOF"):
                # ASOF [LEFT|INNER] JOIN rel ON cond (DuckDB grammar);
                # default inner like a plain JOIN
                ahow = "inner"
                if self.accept_kw("LEFT"):
                    self.accept_kw("OUTER")
                    ahow = "left"
                else:
                    self.accept_kw("INNER")
                self.expect_kw("JOIN")
                rhs = self.parse_relation(scope)
                self.expect_kw("ON")
                cond = self.parse_expr(scope)
                from .plans.nodes import AsofJoin
                plan = AsofJoin(plan, rhs, how=ahow, condition=cond)
                continue
            if self.accept_kw("INNER"):
                how = "inner"
                self.expect_kw("JOIN")
            elif self.at_kw("SEMI", "ANTI"):
                # DuckDB spelling: SEMI JOIN / ANTI JOIN — right side
                # filters (or anti-filters) the left, contributes no
                # output columns. Compiles to Spark left_semi/left_anti;
                # non-native dialects unparse as (NOT) EXISTS.
                how = self.take()[1].lower()
                self.expect_kw("JOIN")
            elif self.at_kw("LEFT", "RIGHT", "FULL"):
                how = self.take()[1].lower()
                if how == "left" and self.at_kw("SEMI", "ANTI"):
                    # Spark SQL spelling: LEFT SEMI / LEFT ANTI JOIN
                    how = self.take()[1].lower()
                else:
                    self.accept_kw("OUTER")
                self.expect_kw("JOIN")
            elif self.accept_kw("JOIN"):
                how = "inner"
            elif self.accept_op(","):
                if self.accept_kw("LATERAL"):
                    rhs = self.parse_relation(scope)
                    plan = LateralJoin(plan, rhs, how="cross")
                    continue
                rhs = self.parse_relation(scope)
                plan = Join(plan, rhs, how="cross")
                continue
            else:
                break
            if self.accept_kw("LATERAL"):
                if how not in ("inner", "left"):
                    raise SqlParseError(
                        f"{how.upper()} JOIN LATERAL is not valid SQL")
                rhs = self.parse_relation(scope)
                self.expect_kw("ON")
                cond = self.parse_expr(scope)
                plan = LateralJoin(plan, rhs, how=how, condition=cond)
                continue
            rhs = self.parse_relation(scope)
            if self.accept_kw("USING"):
                self.expect_op("(")
                using = [self.take()[1]]
                while self.accept_op(","):
                    using.append(self.take()[1])
                self.expect_op(")")
                plan = Join(plan, rhs, how=how, using=using)
                continue
            self.expect_kw("ON")
            cond = self.parse_expr(scope)
            plan = Join(plan, rhs, how=how, condition=cond)
        return plan

    def parse_relation(self, scope: _Scope) -> Plan:
        plan = self._parse_relation_core(scope)
        return self._maybe_tablesample_suffix(plan)

    def _maybe_tablesample_suffix(self, plan: Plan) -> Plan:
        """`rel TABLESAMPLE BERNOULLI(p [PERCENT]) [REPEATABLE (seed)]`
        (r11, VERDICT r10 Next #6). Lowers to the DETERMINISTIC d18
        hash-Bernoulli (seed-salted md5 prefix over the full row) —
        both engines' native TABLESAMPLE is an RNG draw, which the
        rerun-stable contract forbids; the oracle replays the hash
        predicate instead. SYSTEM (block) sampling refuses honestly."""
        if self.at_kw("USING"):
            # DuckDB's `rel USING SAMPLE ...` spelling (r11) — two-
            # token lookahead keeps join-USING(col) intact
            nxt = self.peek(1)
            if (nxt is not None and nxt[0] == "id"
                    and nxt[1].upper() == "SAMPLE"):
                self.take()
                self.take()
                return self._parse_using_sample(plan)
        if not self.at_kw("TABLESAMPLE"):
            return plan
        self.take()
        from .plans.nodes import TableSample
        if self.at_kw("SYSTEM"):
            raise SqlParseError(
                "TABLESAMPLE SYSTEM (block sampling) is storage-layout-"
                "dependent and not rerun-stable — Spark has no stable "
                "block notion; use TABLESAMPLE BERNOULLI(p)")
        if not self.accept_kw("BERNOULLI"):
            raise SqlParseError(
                "TABLESAMPLE method must be BERNOULLI (deterministic "
                "hash-Bernoulli lowering) or is refused: SYSTEM")
        self.expect_op("(")
        t = self.take()
        if t[0] != "num":
            raise SqlParseError(
                f"TABLESAMPLE BERNOULLI takes a numeric percentage, "
                f"got {t}")
        pct = float(t[1])
        if not 0.0 <= pct <= 100.0:
            raise SqlParseError(
                f"TABLESAMPLE percentage {pct} outside [0, 100]")
        self.accept_kw("PERCENT")
        self.expect_op(")")
        seed = 0
        if self.accept_kw("REPEATABLE"):
            self.expect_op("(")
            s = self.take()
            if s[0] != "num":
                raise SqlParseError(
                    f"REPEATABLE takes an integer seed, got {s}")
            seed = int(s[1])
            self.expect_op(")")
        return _make_tablesample(plan, pct, seed)

    def _parse_using_sample(self, plan: Plan) -> Plan:
        """DuckDB's `rel USING SAMPLE ...` (r11). Accepted forms —
        each lowering to the same deterministic hash-Bernoulli as
        TABLESAMPLE:

            USING SAMPLE bernoulli(p%) [REPEATABLE (seed)]
            USING SAMPLE p% (bernoulli [, seed])
            USING SAMPLE p PERCENT (bernoulli [, seed])

        Honest refusals: a bare percentage (DuckDB defaults it to
        SYSTEM block sampling, which is storage-layout-dependent),
        reservoir/system methods, and row-count sampling (reservoir
        semantics — not rerun-stable)."""
        from .plans.nodes import TableSample

        def pct_value():
            t = self.take()
            if t[0] != "num":
                raise SqlParseError(
                    f"USING SAMPLE takes a numeric percentage, "
                    f"got {t}")
            p = float(t[1])
            if not 0.0 <= p <= 100.0:
                raise SqlParseError(
                    f"USING SAMPLE percentage {p} outside [0, 100]")
            return p

        if self.at_kw("BERNOULLI"):
            self.take()
            self.expect_op("(")
            pct = pct_value()
            if not self.accept_op("%"):
                self.accept_kw("PERCENT")
            self.expect_op(")")
            seed = 0
            if self.accept_kw("REPEATABLE"):
                self.expect_op("(")
                s = self.take()
                if s[0] != "num":
                    raise SqlParseError(
                        f"REPEATABLE takes an integer seed, got {s}")
                seed = int(s[1])
                self.expect_op(")")
            return _make_tablesample(plan, pct, seed)
        if self.at_kw("RESERVOIR", "SYSTEM"):
            raise SqlParseError(
                "USING SAMPLE reservoir/system: block and reservoir "
                "sampling are not rerun-stable — use bernoulli(p%)")
        pct = pct_value()
        is_pct = self.accept_op("%") or self.accept_kw("PERCENT")
        if not is_pct:
            if self.accept_kw("ROWS"):
                raise SqlParseError(
                    "USING SAMPLE n ROWS is reservoir sampling (not "
                    "rerun-stable) — use bernoulli(p%)")
            raise SqlParseError(
                "USING SAMPLE takes p% / p PERCENT here")
        if not self.accept_op("("):
            raise SqlParseError(
                "a bare USING SAMPLE p% defaults to SYSTEM (block) "
                "sampling in DuckDB, which is storage-layout-"
                "dependent — spell USING SAMPLE p% (bernoulli "
                "[, seed])")
        if not self.accept_kw("BERNOULLI"):
            raise SqlParseError(
                "USING SAMPLE method must be bernoulli "
                "(deterministic hash-Bernoulli lowering)")
        seed = 0
        if self.accept_op(","):
            s = self.take()
            if s[0] != "num":
                raise SqlParseError(
                    f"USING SAMPLE seed must be an integer, got {s}")
            seed = int(s[1])
        self.expect_op(")")
        return _make_tablesample(plan, pct, seed)

    def _parse_relation_core(self, scope: _Scope) -> Plan:
        if self.accept_op("("):
            if self.at_kw("VALUES"):
                return self._parse_values_relation(scope)
            sub = self.parse_query(scope)
            self.expect_op(")")
            pivoted = self._maybe_pivot_suffix(sub, scope)
            if pivoted is not None:
                return pivoted
            alias = self._relation_alias()
            if alias:
                scope.add(alias)
                sub = SubqueryAlias(sub, alias)
            # DuckDB also accepts the alias BEFORE the pivot clause:
            # (SELECT ...) b PIVOT (...)
            pivoted = self._maybe_pivot_suffix(sub, scope)
            return pivoted if pivoted is not None else sub
        name = self.take()
        if name[0] != "id":
            raise SqlParseError(f"expected table name, got {name}")
        tname = name[1]
        while self.peek() == ("op", "."):
            self.take()
            tname += "." + self.take()[1]
        if tname.lower() in self.ctes:
            pivoted = self._maybe_pivot_suffix(
                self.ctes[tname.lower()], scope)
            if pivoted is not None:
                return pivoted
            alias = self._relation_alias() or tname
            scope.add(alias)
            return SubqueryAlias(self.ctes[tname.lower()], alias)
        if tname.lower() == "generate_series" \
                and self.peek() == ("op", "("):
            return self._parse_generate_series(scope)
        handle = self.resolve_table(tname)
        plan: Plan = Scan(handle)
        pivoted = self._maybe_pivot_suffix(plan, scope)
        if pivoted is not None:
            return pivoted
        alias = self._relation_alias()
        scope.add(alias or handle.local_name)
        if alias and alias != handle.local_name:
            plan = SubqueryAlias(plan, alias)
        pivoted = self._maybe_pivot_suffix(plan, scope)
        return pivoted if pivoted is not None else plan

    def _parse_pivot_statement(self, outer: _Scope) -> Plan:
        """DuckDB's simplified PIVOT statement (r10; VERDICT r9 Next
        #3 — graduated from the IN-list-only refusal)::

            PIVOT rel ON key USING agg(x) [GROUP BY c1, ...]

        No IN list: the compiler discovers the key values via the
        engines' own two-phase protocol (bounded DISTINCT pre-query,
        ascending column order; DuckDB's own binder expands the same
        hidden DISTINCT query, bounded by its pivot_limit setting)
        with a documented cap and a loud overflow. Usable anywhere a query is (top level, CTE
        body, subquery) since every query path funnels through
        _parse_intersect_chain. r11 (VERDICT r10 Next #5): multi-key
        `ON a, b` parses too — each key's values discover
        independently and CROSS into `{va}_{vb}` columns, DuckDB's
        rule. Remaining honest refusals: IN lists (use the suffix
        form) and unaliased multi-aggregate naming."""
        from .plans.nodes import Pivot
        self.expect_kw("PIVOT")
        scope = _Scope(parent=outer)
        plan = self.parse_relation(scope)
        self.expect_kw("ON")
        pivot_cols = [self.take()[1]]
        while self.accept_op(","):
            pivot_cols.append(self.take()[1])
        pivot_col = pivot_cols[0]
        if self.accept_kw("IN"):
            raise SqlParseError(
                "simplified PIVOT with an IN list: use the relation-"
                "suffix form `rel PIVOT (agg(x) FOR key IN (...))`")
        self.expect_kw("USING")

        def one_agg():
            fname = self.take()
            if fname[0] != "id" or self.peek() != ("op", "("):
                raise SqlParseError(
                    "PIVOT ... USING needs an aggregate call")
            self.i -= 1
            a = self.parse_func_call(scope)
            if not isinstance(a, AggFunc):
                raise SqlParseError(
                    f"PIVOT USING {fname[1]}() is not an aggregate")
            if self.accept_kw("AS"):
                return Alias(a, self.take()[1])
            return a

        aggs = [one_agg()]
        while self.accept_op(","):
            aggs.append(one_agg())
        if len(aggs) > 1 and not all(isinstance(a, Alias)
                                     for a in aggs):
            # DuckDB auto-names unaliased multi-agg columns after the
            # aggregate's SQL text (x_sum(v)); reproducing that text
            # byte-for-byte is brittle — require aliases instead
            raise SqlParseError(
                "PIVOT USING with multiple aggregates requires an "
                "alias on each (agg(x) AS name)")
        if self.accept_kw("GROUP"):
            # explicit grouping: project the input down to (group cols
            # + key + aggregate refs) so Pivot's implicit all-other-
            # columns grouping becomes exactly the GROUP BY list
            self.expect_kw("BY")
            gcols = [self.take()[1]]
            while self.accept_op(","):
                gcols.append(self.take()[1])
            from .expressions import walk as _walk
            refs = [x.name for a in aggs for x in _walk(a)
                    if isinstance(x, Col)]
            keep = list(dict.fromkeys(gcols + pivot_cols + refs))
            plan = Project(plan, [Col(c) for c in keep])
        multi = tuple(pivot_cols) if len(pivot_cols) > 1 else None
        if len(aggs) > 1:
            return Pivot(plan, None, pivot_col, None, tuple(aggs),
                         pivot_cols=multi)
        return Pivot(plan, aggs[0], pivot_col, None, pivot_cols=multi)

    def _parse_unpivot_statement(self, outer: _Scope) -> Plan:
        """DuckDB's simplified UNPIVOT statement (r10, the PIVOT
        statement's sibling)::

            UNPIVOT rel ON c1, c2, ... [INTO NAME n VALUE v]

        Default output column names are ``name``/``value`` (DuckDB's);
        NULL values drop, exactly the suffix form's default. Lowers to
        the existing Unpivot node — remaining columns ride through,
        then (name, value) append."""
        from .plans.nodes import Unpivot
        self.expect_kw("UNPIVOT")
        scope = _Scope(parent=outer)
        plan = self.parse_relation(scope)
        self.expect_kw("ON")
        cols = [self.take()[1]]
        while self.accept_op(","):
            cols.append(self.take()[1])
        name_col, value_col = "name", "value"
        if self.accept_kw("INTO"):
            self.expect_kw("NAME")
            name_col = self.take()[1]
            self.expect_kw("VALUE")
            value_col = self.take()[1]
            if self.accept_op(","):
                raise SqlParseError(
                    "simplified UNPIVOT takes one VALUE column here "
                    "(multi-value unpivot is outside the parser "
                    "surface)")
        return Unpivot(plan, tuple(cols), value_col, name_col, False)

    def _maybe_pivot_suffix(self, plan: Plan, scope: _Scope
                            ) -> Optional[Plan]:
        """`rel UNPIVOT [INCLUDE NULLS] (v FOR n IN (c1, ...))` and
        `rel PIVOT (agg(x) FOR key IN (lit1, ...))` relation suffixes
        (SQL:2016-style spelling shared by DuckDB and Spark SQL — the
        oracle runs the identical string). Returns None when the
        cursor is not on either keyword."""
        from .plans.nodes import Pivot, Unpivot
        if self.at_kw("UNPIVOT"):
            self.take()
            include_nulls = False
            if self.accept_kw("INCLUDE"):
                self.expect_kw("NULLS")
                include_nulls = True
            self.expect_op("(")
            value_col = self.take()[1]
            self.expect_kw("FOR")
            name_col = self.take()[1]
            self.expect_kw("IN")
            self.expect_op("(")
            cols = [self.take()[1]]
            while self.accept_op(","):
                cols.append(self.take()[1])
            self.expect_op(")")
            self.expect_op(")")
            out: Plan = Unpivot(plan, tuple(cols), value_col, name_col,
                                include_nulls)
        elif self.at_kw("PIVOT"):
            self.take()
            self.expect_op("(")
            fname = self.take()
            if fname[0] != "id" or self.peek() != ("op", "("):
                raise SqlParseError(
                    "PIVOT needs an aggregate call: PIVOT (agg(x) FOR "
                    "key IN (...))")
            self.i -= 1
            agg = self.parse_func_call(scope)
            if not isinstance(agg, AggFunc):
                raise SqlParseError(
                    f"PIVOT over non-aggregate {fname[1]}() is outside "
                    "the parser surface")
            self.expect_kw("FOR")
            pivot_col = self.take()[1]
            self.expect_kw("IN")
            self.expect_op("(")
            values = []
            while True:
                v = self.parse_expr(scope)
                if not isinstance(v, Lit):
                    raise SqlParseError(
                        "PIVOT IN list takes literals (implicit value "
                        "discovery would need a pre-query)")
                values.append(v.value)
                if not self.accept_op(","):
                    break
            self.expect_op(")")
            self.expect_op(")")
            out = Pivot(plan, agg, pivot_col, tuple(values))
        else:
            return None
        alias = self._relation_alias()
        if alias:
            scope.add(alias)
            return SubqueryAlias(out, alias)
        return out


    def _parse_values_relation(self, scope: _Scope) -> Plan:
        """`(VALUES (e, ...), ...) AS alias(c1, ...)` — an inline
        constant relation (DataFusion/DuckDB/Postgres all support it;
        the IN-list-as-join-table pattern). Lowered HERE to existing
        nodes — a UNION ALL of one-row projections over OneRow — so the
        compiler, federation pass, and optimizer need no new case; at
        constant-list sizes Catalyst folds the union to a
        LocalRelation. The column alias list is REQUIRED: engines
        disagree on default VALUES column names (DuckDB col0 vs
        Postgres column1), so relying on them would make the same
        query mean different things per engine."""
        self.expect_kw("VALUES")
        rows: List[List[Expr]] = []
        while True:
            self.expect_op("(")
            row = [self.parse_expr(scope)]
            while self.accept_op(","):
                row.append(self.parse_expr(scope))
            self.expect_op(")")
            if rows and len(row) != len(rows[0]):
                raise SqlParseError(
                    f"VALUES rows have inconsistent arity "
                    f"({len(rows[0])} vs {len(row)})")
            rows.append(row)
            if not self.accept_op(","):
                break
        self.expect_op(")")
        alias = self._relation_alias()
        if alias is None or self.peek() != ("op", "("):
            raise SqlParseError(
                "VALUES requires `AS alias(col, ...)` — default column "
                "names differ across engines")
        self.take()
        cols = [self.take()[1]]
        while self.accept_op(","):
            cols.append(self.take()[1])
        self.expect_op(")")
        if len(cols) != len(rows[0]):
            raise SqlParseError(
                f"VALUES column list names {len(cols)} columns but rows "
                f"have {len(rows[0])}")
        branches: List[Plan] = [
            Project(OneRow(), [Alias(e, c) for e, c in zip(row, cols)])
            for row in rows]
        plan: Plan = (branches[0] if len(branches) == 1
                      else Union(branches, all=True))
        scope.add(alias)
        return SubqueryAlias(plan, alias)

    def _parse_generate_series(self, scope: _Scope) -> Plan:
        """``generate_series(start, stop [, step]) [AS] alias[(col)]``
        table factor (Postgres/DuckDB; r9): INCLUSIVE integer series.
        Bounds must be integer constants — a column-dependent series
        is per-row semantics, which belongs in LATERAL (refused here
        rather than silently mis-scoped). Default column name matches
        Postgres: ``generate_series``."""
        from .plans.nodes import SeriesScan
        self.expect_op("(")

        def const_int() -> int:
            neg = False
            if self.peek() == ("op", "-"):
                self.take()
                neg = True
            t = self.take()
            if t[0] != "num" or "." in t[1]:
                raise SqlParseError(
                    "generate_series bounds must be integer constants "
                    "(a column-dependent series belongs in LATERAL, "
                    "which this table factor does not model)")
            v = int(t[1])
            return -v if neg else v

        start = const_int()
        self.expect_op(",")
        stop = const_int()
        step = 1
        if self.accept_op(","):
            step = const_int()
        if step == 0:
            raise SqlParseError("generate_series step must not be zero")
        self.expect_op(")")
        alias = self._relation_alias()
        col = "generate_series"
        if alias and self.accept_op("("):
            col = self.take()[1]
            if self.accept_op(","):
                raise SqlParseError(
                    "generate_series produces exactly one column")
            self.expect_op(")")
        elif alias:
            # Postgres single-column SRF rule (r10, ADVICE r9 #5): a
            # bare alias with no column list renames the one output
            # column too — `FROM generate_series(1,3) g` exposes `g`.
            # (DuckDB instead binds the alias as a row variable; a
            # DuckDB user writes g(n) which both engines accept.)
            col = alias
        plan: Plan = SeriesScan(start, stop, step, col)
        scope.add(alias or "generate_series")
        if alias:
            return SubqueryAlias(plan, alias)
        return plan

    def _relation_alias(self) -> Optional[str]:
        if self.accept_kw("AS"):
            return self.take()[1]
        if (self.peek() is not None and self.peek()[0] == "id"
                and not self.at_kw(
                    "WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY",
                    "ORDER", "LIMIT", "OFFSET", "FETCH", "UNION",
                    "INTERSECT", "EXCEPT", "JOIN", "ON", "INNER",
                    "LEFT", "RIGHT", "FULL", "CROSS", "AS", "USING",
                    "ASOF", "SEMI", "ANTI", "TABLESAMPLE")):
            return self.take()[1]
        return None

    # -- expressions (precedence climbing) ---------------------------------
    def parse_expr(self, scope: _Scope) -> Expr:
        return self.parse_or(scope)

    def parse_or(self, scope) -> Expr:
        e = self.parse_and(scope)
        while self.accept_kw("OR"):
            e = BinaryOp("OR", e, self.parse_and(scope))
        return e

    def parse_and(self, scope) -> Expr:
        e = self.parse_not(scope)
        while self.accept_kw("AND"):
            e = BinaryOp("AND", e, self.parse_not(scope))
        return e

    def parse_not(self, scope) -> Expr:
        if self.accept_kw("NOT"):
            if self.at_kw("EXISTS"):
                return self._exists(scope, negated=True)
            return Not(self.parse_not(scope))
        if self.at_kw("EXISTS"):
            return self._exists(scope, negated=False)
        return self.parse_comparison(scope)

    def _exists(self, scope, negated: bool) -> Exists:
        self.expect_kw("EXISTS")
        self.expect_op("(")
        sub = self.parse_query(scope)
        self.expect_op(")")
        return Exists(sub, negated=negated)

    def parse_comparison(self, scope) -> Expr:
        e = self.parse_additive(scope)
        while True:
            neg = False
            save = self.i
            if self.accept_kw("NOT"):
                neg = True
            if self.accept_kw("BETWEEN"):
                lo = self.parse_additive(scope)
                self.expect_kw("AND")
                hi = self.parse_additive(scope)
                e = Between(e, lo, hi, negated=neg)
                continue
            if self.accept_kw("IN"):
                self.expect_op("(")
                if self.at_kw("SELECT"):
                    sub = self.parse_query(scope)
                    self.expect_op(")")
                    e = InSubquery(e, sub, negated=neg)
                else:
                    vals = [self.parse_expr(scope)]
                    while self.accept_op(","):
                        vals.append(self.parse_expr(scope))
                    self.expect_op(")")
                    e = InList(e, vals, negated=neg)
                continue
            if self.at_kw("LIKE", "ILIKE"):
                ci = self.take()[1].upper() == "ILIKE"
                pat = self.parse_additive(scope)
                e = Like(e, pat, negated=neg, case_insensitive=ci)
                continue
            if neg:
                self.i = save          # lone NOT belongs to caller
                break
            if self.accept_kw("IS"):
                n2 = self.accept_kw("NOT")
                if self.accept_kw("DISTINCT"):
                    self.expect_kw("FROM")
                    from .expressions import IsDistinctFrom
                    e = IsDistinctFrom(e, self.parse_additive(scope),
                                       negated=bool(n2))
                elif self.at_kw("TRUE", "FALSE", "UNKNOWN"):
                    from .expressions import IsTrue
                    e = IsTrue(e, what=self.take()[1].upper(),
                               negated=bool(n2))
                else:
                    self.expect_kw("NULL")
                    from .expressions import IsNotNull
                    e = IsNotNull(e) if n2 else IsNull(e)
                continue
            t = self.peek()
            if t is not None and t[0] == "op" and t[1] in (
                    "=", "<>", "!=", "<", "<=", ">", ">="):
                op = self.take()[1]
                op = "<>" if op == "!=" else op
                if self.at_kw("ANY", "ALL", "SOME"):
                    quant = self.take()[1].upper()
                    quant = "ANY" if quant == "SOME" else quant
                    self.expect_op("(")
                    sub = self.parse_query(scope)
                    self.expect_op(")")
                    e = SetComparison(e, op, quant, sub)
                else:
                    e = BinaryOp(op, e, self.parse_additive(scope))
                continue
            break
        return e

    def parse_additive(self, scope) -> Expr:
        e = self.parse_multiplicative(scope)
        while True:
            t = self.peek()
            if t is not None and t[0] == "op" and t[1] in ("+", "-", "||"):
                op = self.take()[1]
                rhs = self.parse_multiplicative(scope)
                if op == "||":
                    e = Func("concat", [e, rhs])
                else:
                    e = BinaryOp(op, e, rhs)
            else:
                break
        return e

    def parse_multiplicative(self, scope) -> Expr:
        e = self.parse_unary(scope)
        while True:
            t = self.peek()
            if t is not None and t[0] == "op" and t[1] in ("*", "/", "%"):
                op = self.take()[1]
                e = BinaryOp(op, e, self.parse_unary(scope))
            else:
                break
        return e

    def parse_unary(self, scope) -> Expr:
        if self.accept_op("-"):
            from .expressions import Negative
            return Negative(self.parse_unary(scope))
        if self.accept_op("+"):
            return self.parse_unary(scope)
        return self.parse_primary(scope)

    def parse_primary(self, scope) -> Expr:
        t = self.peek()
        if t is None:
            raise SqlParseError("unexpected end of expression")
        if t[0] == "num":
            self.take()
            v = float(t[1]) if "." in t[1] else int(t[1])
            return Lit(v)
        if t[0] == "str":
            self.take()
            return Lit(t[1])
        if t[0] == "param":
            # $1 / :name -> Placeholder; engine.sql binds params before
            # execution (unbound markers refuse there, loudly — a
            # verbatim marker shipped to a remote engine would either
            # error confusingly or bind to ITS session state)
            from .expressions import Placeholder
            self.take()
            return Placeholder(t[1])
        if self.accept_op("("):
            if self.at_kw("SELECT"):
                sub = self.parse_query(scope)
                self.expect_op(")")
                return ScalarSubquery(sub)
            e = self.parse_expr(scope)
            self.expect_op(")")
            return e
        if t[0] != "id":
            raise SqlParseError(f"unexpected token {t}")
        word = t[1]
        up = word.upper()
        if up == "CASE":
            return self.parse_case(scope)
        if up in ("CAST", "TRY_CAST"):
            self.take()
            self.expect_op("(")
            e = self.parse_expr(scope)
            self.expect_kw("AS")
            dtype = self.parse_type()
            self.expect_op(")")
            return Cast(e, dtype, try_cast=(up == "TRY_CAST"))
        if up == "EXTRACT" and self.peek(1) == ("op", "("):
            # EXTRACT(YEAR FROM x) -> the canonical field function, which
            # each dialect's function_map spells natively on unparse
            self.take()
            self.expect_op("(")
            fld = self.take()[1].lower()
            self.expect_kw("FROM")
            e = self.parse_expr(scope)
            self.expect_op(")")
            # no 'dow': Spark dayofweek is Sunday=1..7 but DuckDB's is
            # 0..6 — the same query would differ by one depending on
            # whether it federates; refusing sends it to the Spark
            # parser with consistent (local) semantics
            fmap = {"year": "year", "quarter": "quarter", "month": "month",
                    "day": "day", "hour": "hour", "minute": "minute",
                    "second": "second", "week": "weekofyear"}
            if fld not in fmap:
                raise SqlParseError(f"EXTRACT field {fld!r} unsupported")
            return Func(fmap[fld], [e])
        if up in ("NULL",):
            self.take()
            return Lit(None)
        if up in ("TRUE", "FALSE"):
            self.take()
            return Lit(up == "TRUE")
        if up == "INTERVAL" and self.peek(1) is not None \
                and self.peek(1)[0] in ("num", "str"):
            from .expressions import IntervalLit
            self.take()
            n = int(self.take()[1])
            unit = self.take()[1].upper().rstrip("S")   # DAYS -> DAY
            # no QUARTER: Spark's interval-literal grammar has no such
            # unit, so the local path would crash instead of degrading
            if unit not in ("YEAR", "MONTH", "WEEK", "DAY",
                            "HOUR", "MINUTE", "SECOND"):
                raise SqlParseError(f"INTERVAL unit {unit!r} unsupported")
            return IntervalLit(n, unit)
        if up in ("DATE", "TIMESTAMP") and self.peek(1) is not None \
                and self.peek(1)[0] == "str":
            self.take()
            import datetime as _dt
            s = self.take()[1]
            if up == "DATE":
                return Lit(_dt.date.fromisoformat(s))
            return Lit(_dt.datetime.fromisoformat(s))
        # function call?
        if self.peek(1) == ("op", "("):
            return self.parse_func_call(scope)
        # column ref (possibly qualified)
        self.take()
        if self.peek() == ("op", "."):
            self.take()
            if self.peek() == ("op", "*"):
                self.take()
                return Star(table=word)
            col_name = self.take()[1]
            if scope.is_local(word):
                return Col(col_name, word)
            if scope.is_outer(word):
                return OuterRef(col_name, word)
            return Col(col_name, word)
        return Col(word)

    #: portable type aliases -> Spark SQL type names. Bare VARCHAR /
    #: CHAR / TEXT are valid ANSI/DuckDB/Postgres cast targets that
    #: Spark's parser rejects ("requires a length parameter" — r6,
    #: found by a corner probe); the plan stores the Spark name and the
    #: unparser's per-dialect type_map renders it back out.
    _TYPE_ALIASES = {"varchar": "string", "char": "string",
                     "text": "string", "int8": "bigint",
                     "int4": "int", "float8": "double",
                     "float4": "float", "bool": "boolean"}

    def parse_type(self) -> str:
        base = self.take()[1]
        if self.accept_op("("):
            args = [self.take()[1]]
            while self.accept_op(","):
                args.append(self.take()[1])
            self.expect_op(")")
            return f"{base}({','.join(args)})"
        return self._TYPE_ALIASES.get(base.lower(), base)

    def parse_case(self, scope) -> Expr:
        self.expect_kw("CASE")
        operand = None
        if not self.at_kw("WHEN"):
            operand = self.parse_expr(scope)
        branches = []
        while self.accept_kw("WHEN"):
            w = self.parse_expr(scope)
            self.expect_kw("THEN")
            branches.append((w, self.parse_expr(scope)))
        else_e = None
        if self.accept_kw("ELSE"):
            else_e = self.parse_expr(scope)
        self.expect_kw("END")
        return Case(branches, else_e, operand)

    def _maybe_lambda(self, scope) -> Optional[Expr]:
        """Higher-order lambda argument: ``x -> body`` or
        ``(a, b) -> body`` — only at function-argument position (the
        sole place engines accept the arrow). Pure lookahead: anything
        not matching the parameter-list shape falls back to ordinary
        expression parsing untouched."""
        from .expressions import Lambda
        t0, t1 = self.peek(), self.peek(1)
        if t0 is not None and t0[0] == "id" and t1 == ("op", "->"):
            params = [self.take()[1]]
            self.take()                               # ->
        elif t0 == ("op", "("):
            j, params = 1, []
            while True:
                tj = self.peek(j)
                if tj is None or tj[0] != "id":
                    return None
                params.append(tj[1])
                j += 1
                tj = self.peek(j)
                if tj == ("op", ","):
                    j += 1
                    continue
                if tj == ("op", ")"):
                    j += 1
                    break
                return None
            if self.peek(j) != ("op", "->"):
                return None
            for _ in range(j + 1):
                self.take()
        else:
            return None
        return Lambda(params, self.parse_expr(scope))

    def parse_func_call(self, scope) -> Expr:
        name = self.take()[1]
        self.expect_op("(")
        distinct = False
        args: List[Expr] = []
        star = False
        if self.accept_op("*"):
            star = True
        elif not self.accept_op(")"):
            distinct = self.accept_kw("DISTINCT")
            args.append(self._maybe_lambda(scope) or self.parse_expr(scope))
            while self.accept_op(","):
                args.append(self._maybe_lambda(scope)
                            or self.parse_expr(scope))
        ignore_nulls = False
        agg_order: List[SortKey] = []
        if not star and args:
            if self.at_kw("ORDER"):
                # order-sensitive aggregate: f(x, sep ORDER BY k, ...)
                self.take()
                self.expect_kw("BY")
                agg_order.append(self.parse_sort_key(scope))
                while self.accept_op(","):
                    agg_order.append(self.parse_sort_key(scope))
            # DuckDB's inline null treatment: f(x IGNORE NULLS)
            ignore_nulls = self._null_treatment()
            self.expect_op(")")
        elif star:
            self.expect_op(")")
        # standard postfix form: f(x) IGNORE NULLS OVER (...)
        ignore_nulls = self._null_treatment() or ignore_nulls
        lname = name.lower()
        within_group = False
        if self.at_kw("WITHIN"):
            # ordered-set aggregate: f(frac) WITHIN GROUP (ORDER BY x)
            if lname not in WITHIN_GROUP_AGGS:
                raise SqlParseError(
                    f"WITHIN GROUP on {name}() is outside the parser "
                    "surface (percentile_cont/percentile_disc/mode)")
            if agg_order or distinct or star:
                raise SqlParseError(
                    "WITHIN GROUP cannot combine with DISTINCT, *, or "
                    "an in-call ORDER BY")
            self.take()
            self.expect_kw("GROUP")
            self.expect_op("(")
            self.expect_kw("ORDER")
            self.expect_kw("BY")
            agg_order.append(self.parse_sort_key(scope))
            while self.accept_op(","):
                agg_order.append(self.parse_sort_key(scope))
            self.expect_op(")")
            within_group = True
        if distinct and lname not in AGG_NAMES:
            # Func has no DISTINCT form; dropping it silently would
            # return duplicates — reject so engine.sql falls back
            raise SqlParseError(
                f"DISTINCT inside {name}() is outside the parser surface")
        if agg_order and lname not in AGG_NAMES:
            raise SqlParseError(
                f"ORDER BY inside {name}() — not an aggregate")
        if lname in AGG_NAMES:
            if lname == "count" and star:
                e: Expr = AggFunc("count", [], distinct=distinct)
            else:
                e = AggFunc(lname, args, distinct=distinct,
                            order_by=tuple(agg_order),
                            within_group=within_group)
            if self.accept_kw("FILTER"):
                self.expect_op("(")
                self.expect_kw("WHERE")
                e.filter = self.parse_expr(scope)
                self.expect_op(")")
                # either order: f(x) IGNORE NULLS FILTER ... and
                # f(x) FILTER ... IGNORE NULLS both appear in the wild
                ignore_nulls = self._null_treatment() or ignore_nulls
            if self.accept_kw("OVER"):
                return self.parse_over(e, scope, ignore_nulls)
            if ignore_nulls:
                raise SqlParseError(
                    f"IGNORE NULLS on {name}() requires an OVER clause")
            return e
        f = Func(lname, args)
        if self.accept_kw("OVER"):
            return self.parse_over(f, scope, ignore_nulls)
        if ignore_nulls:
            raise SqlParseError(
                f"IGNORE NULLS on {name}() requires an OVER clause")
        return f

    def _null_treatment(self) -> bool:
        """[IGNORE|RESPECT] NULLS (two-token lookahead so a bare alias
        named `ignore` is never consumed)."""
        t0, t1 = self.peek(), self.peek(1)
        if (t0 is not None and t0[0] == "id"
                and t0[1].upper() in ("IGNORE", "RESPECT")
                and t1 is not None and t1[0] == "id"
                and t1[1].upper() == "NULLS"):
            kw = self.take()[1].upper()
            self.take()
            return kw == "IGNORE"
        return False

    def parse_over(self, func_expr: Expr, scope,
                   ignore_nulls: bool = False) -> WindowFunc:
        t = self.peek()
        if t is not None and t[0] == "id":
            # OVER w — named window reference; the WINDOW clause appears
            # later in the statement, so record a placeholder and resolve
            # in parse_select once the clause has parsed
            wf = WindowFunc(func_expr, ignore_nulls=ignore_nulls)
            wf._named_ref = self.take()[1].lower()
            return wf
        self.expect_op("(")
        partition, order, frame, base = self._window_spec(scope)
        self.expect_op(")")
        wf = WindowFunc(func_expr, partition, order, frame,
                        ignore_nulls=ignore_nulls)
        if base is not None:
            # inline chaining: OVER (w1 ORDER BY ...) — w1's definition
            # parses later in the statement; keep the partial spec and
            # merge at resolution (SQL:2003 window inheritance)
            wf._named_ref = base
        return wf

    def _window_spec(self, scope):
        """The body of a window specification: [base_window_name]
        [PARTITION BY ...] [ORDER BY ...] [ROWS|RANGE|GROUPS BETWEEN
        ...] (shared by OVER (...) and the named WINDOW clause).
        Returns (partition, order, frame, base_name) — base_name set
        when the spec CHAINS off a named window (SQL:2003: the base
        supplies the partitioning; ordering may be added only if the
        base has none; the base must carry no frame)."""
        base = None
        t = self.peek()
        if (t is not None and t[0] == "id"
                and t[1].upper() not in ("PARTITION", "ORDER", "ROWS",
                                         "RANGE", "GROUPS")):
            base = self.take()[1].lower()
        partition: List[Expr] = []
        order: List[SortKey] = []
        frame = None
        if self.accept_kw("PARTITION"):
            self.expect_kw("BY")
            partition.append(self.parse_expr(scope))
            while self.accept_op(","):
                partition.append(self.parse_expr(scope))
        if self.accept_kw("ORDER"):
            self.expect_kw("BY")
            order.append(self.parse_sort_key(scope))
            while self.accept_op(","):
                order.append(self.parse_sort_key(scope))
        if self.at_kw("ROWS", "RANGE", "GROUPS"):
            kind = self.take()[1].upper()
            self.expect_kw("BETWEEN")
            start = self._frame_bound()
            self.expect_kw("AND")
            end = self._frame_bound()
            exclude = None
            if self.accept_kw("EXCLUDE"):
                # SQL:2011 frame exclusion (Postgres/DuckDB/SQLite);
                # EXCLUDE NO OTHERS is the explicit no-op spelling
                if self.accept_kw("CURRENT"):
                    self.expect_kw("ROW")
                    exclude = "CURRENT ROW"
                elif self.accept_kw("GROUP"):
                    exclude = "GROUP"
                elif self.accept_kw("TIES"):
                    exclude = "TIES"
                else:
                    self.expect_kw("NO")
                    self.expect_kw("OTHERS")
            frame = WindowFrame(kind, start, end, exclude=exclude)
        return partition, order, frame, base

    def _frame_bound(self):
        if self.accept_kw("UNBOUNDED"):
            kw = self.take()[1].upper()
            return f"UNBOUNDED {kw}"
        if self.accept_kw("CURRENT"):
            self.expect_kw("ROW")
            return 0
        n = int(self.take()[1])
        kw = self.take()[1].upper()
        return -n if kw == "PRECEDING" else n


def _validate_supported(plan: Plan) -> None:
    """Reject parsed shapes the COMPILER cannot execute, so engine.sql
    falls back to the Spark parser instead of failing at execution time
    (when remote queries may already have fired). Currently: EXISTS/IN
    subqueries are only supported as top-level AND-conjuncts of a
    Filter."""
    from .expressions import Exists, InSubquery, walk
    from .plans.nodes import walk_plan

    def conjuncts(e):
        from .expressions import BinaryOp
        if isinstance(e, BinaryOp) and e.op.upper() == "AND":
            yield from conjuncts(e.left)
            yield from conjuncts(e.right)
        else:
            yield e

    from .expressions import WindowFunc as _WF
    for node in walk_plan(plan):
        for e in node.exprs():
            for x in walk(e):
                if isinstance(x, _WF) and getattr(x, "_named_ref", None):
                    raise SqlParseError(
                        "named window referenced outside the select "
                        "list/HAVING is outside the parser surface")
            if isinstance(node, Filter):
                for c in conjuncts(node.predicate):
                    if isinstance(c, (Exists, InSubquery)):
                        _validate_supported(c.plan)
                        continue
                    if any(isinstance(x, (Exists, InSubquery))
                           for x in walk(c)):
                        raise SqlParseError(
                            "EXISTS/IN under OR/NOT is outside the "
                            "compiler surface")
            else:
                if any(isinstance(x, (Exists, InSubquery))
                       for x in walk(e)):
                    raise SqlParseError(
                        "EXISTS/IN outside a WHERE clause is outside "
                        "the compiler surface")


def _strip_full_paren_wrap(p: "Parser", kws) -> None:
    """Remove ONE paren pair wrapping the ENTIRE remaining token
    stream when the open paren is followed by one of ``kws`` —
    `... AS (SELECT ...)` / `INSERT INTO t (VALUES ...)`. Balance-
    scans from the opening paren (ADVICE r12: a naive last-token
    strip mangles `AS (SELECT ...) UNION (SELECT ...)`); a partial
    wrap leaves the tokens untouched for the normal parse path."""
    if p.peek() != ("op", "(") or p.peek(1) is None \
            or p.peek(1)[0] != "id" or p.peek(1)[1].upper() not in kws:
        return
    depth, close = 0, None
    for j in range(p.i, len(p.toks)):
        if p.toks[j] == ("op", "("):
            depth += 1
        elif p.toks[j] == ("op", ")"):
            depth -= 1
            if depth == 0:
                close = j
                break
    if close == len(p.toks) - 1:
        del p.toks[close]
        del p.toks[p.i]


def _parse_insert_values(p: "Parser", cols) -> Plan:
    """INSERT-source ``VALUES (e, ...), ...`` rows -> the same
    UNION-ALL-of-one-row-projections IR as the FROM-clause VALUES
    relation (so federation/claiming/unparse need no new case).
    Output names: the INSERT column list when given, else c1..cn —
    INSERT binds positionally, so the names never reach the engine's
    semantics."""
    scope = _Scope()
    p.expect_kw("VALUES")
    rows: List[List[Expr]] = []
    while True:
        p.expect_op("(")
        row = [p.parse_expr(scope)]
        while p.accept_op(","):
            row.append(p.parse_expr(scope))
        p.expect_op(")")
        if rows and len(row) != len(rows[0]):
            raise SqlParseError(
                f"VALUES rows have inconsistent arity "
                f"({len(rows[0])} vs {len(row)})")
        rows.append(row)
        if not p.accept_op(","):
            break
    names = cols if cols else [f"c{i+1}" for i in range(len(rows[0]))]
    if len(names) != len(rows[0]):
        raise SqlParseError(
            f"INSERT column list names {len(names)} columns but "
            f"VALUES rows have {len(rows[0])}")
    branches: List[Plan] = [
        Project(OneRow(), [Alias(e, c) for e, c in zip(row, names)])
        for row in rows]
    return (branches[0] if len(branches) == 1
            else Union(branches, all=True))


def parse_insert(sql: str, resolve_table: Callable[[str], Any]):
    """Parse ``INSERT INTO name [(col, ...)] <query>`` (r12, VERDICT
    r11 Next #6 — federated write-back). Returns
    ``(table_name, cols_or_None, source_plan)``; the source is any
    query the front door accepts (SELECT/WITH/set ops). Raises
    SqlParseError when the text is not an INSERT (callers treat that
    as "route elsewhere")."""
    p = Parser(sql, resolve_table)
    if not p.at_kw("INSERT"):
        raise SqlParseError("not an INSERT statement")
    p.take()
    p.expect_kw("INTO")
    name = _parse_dotted_name(p, "INTO")
    cols = None
    # a '(' here is a column list only if it closes before a query
    # keyword — `INSERT INTO t (SELECT ...)` is a parenthesized source
    if p.peek() == ("op", "(") and not (
            p.peek(1) is not None and p.peek(1)[0] == "id"
            and p.peek(1)[1].upper() in ("SELECT", "WITH", "VALUES")):
        p.take()
        cols = []
        while True:
            c = p.take()
            if c[0] != "id":
                raise SqlParseError(
                    f"expected column name in INSERT column list, "
                    f"got {c}")
            cols.append(c[1])
            if p.accept_op(","):
                continue
            p.expect_op(")")
            break
    # `INSERT INTO t [(cols)] VALUES (...), (...)` and the
    # paren-wrapped `INSERT INTO t (VALUES ...)` (r13, VERDICT r12
    # Next #7 review edge): the rows lower to the same UNION-ALL-of-
    # one-row-projections IR as a FROM-clause VALUES relation, so a
    # remote target ships `INSERT INTO t SELECT ... UNION ALL ...` —
    # the alias-list requirement of the relation form does not apply
    # (INSERT binds positionally; names come from the column list or
    # synthetic c1..cn)
    _strip_full_paren_wrap(p, ("SELECT", "WITH", "VALUES"))
    if p.at_kw("VALUES"):
        plan = _parse_insert_values(p, cols)
        if p.peek() is not None:
            raise SqlParseError(f"trailing tokens at {p.peek()}")
        _validate_supported(plan)
        return name, cols, plan
    # `INSERT INTO t (SELECT ...)` — the full-wrap strip above already
    # removed a paren pair wrapping the ENTIRE remaining source (a
    # partial wrap, e.g. a parenthesized set-op branch, keeps the
    # normal parse path and its error)
    try:
        plan = p.parse()
    except SqlParseError:
        raise
    except (ValueError, IndexError, AttributeError, TypeError) as e:
        raise SqlParseError(str(e)) from e
    _validate_supported(plan)
    return name, cols, plan


#: Spark type-name prefixes whose CAST-to-string rendering agrees
#: across every dialect this repo ships (ints, strings, dates,
#: booleans). Doubles ('1.0E20' vs '1e+20'), timestamps, and decimals
#: stay OFF the pushdown path — the TableSample node compiles locally.
_SAMPLE_STABLE_TYPES = frozenset(
    {"string", "int", "bigint", "smallint", "tinyint", "date",
     "boolean"})   # Spark simpleString names, EXACT match (a prefix
                   # test would let 'interval day' in via 'int')


def _sample_static_fields(plan):
    """(name, type-simpleString) pairs for relation shapes whose
    schema is statically known — a Scan (with optional projection),
    reached through any chain of SubqueryAlias, Filter (a filter
    below the sample does not change the visible columns — r13,
    VERDICT r12 Next #4: samples over filtered relations and CTE
    references lower too), and plain-column Projects (renames
    compose). None = unknown (keep the TableSample node; the
    compiler samples locally)."""
    from .expressions import Alias as _Al, Col as _Co
    from .plans.nodes import (
        Filter as _Fl, Project as _Pj, Scan as _Sc,
        SubqueryAlias as _SA)
    p = plan
    picked = None        # [(source_name, output_name)] at the TOP
    while True:
        if isinstance(p, (_SA, _Fl)):
            p = p.input
            continue
        if isinstance(p, _Pj):
            layer = []
            for e in p.projections:
                inner = e.expr if isinstance(e, _Al) else e
                if not isinstance(inner, _Co):
                    return None
                layer.append((inner.name,
                              e.name if isinstance(e, _Al)
                              else inner.name))
            if picked is None:
                picked = layer
            else:
                # compose: the outer layer's sources are this layer's
                # outputs (case-insensitive, SQL name resolution)
                by_out = {o.lower(): s for s, o in layer}
                composed = []
                for src, outname in picked:
                    s = by_out.get(src.lower())
                    if s is None:
                        return None
                    composed.append((s, outname))
                picked = composed
            p = p.input
            continue
        break
    if not isinstance(p, _Sc):
        return None
    schema = getattr(p.table, "schema", None)
    if schema is None:
        return None
    by_name = {f.name.lower(): f for f in schema.fields}
    if picked is None:
        names = (list(p.projection) if p.projection
                 else [f.name for f in schema.fields])
        picked = [(n, n) for n in names]
    out = []
    for src, outname in picked:
        f = by_name.get(src.lower())
        if f is None:
            return None
        out.append((outname, f.dataType.simpleString()))
    return out


def _make_tablesample(plan, pct: float, seed: int):
    """Build the sampling node (r12 pushdown): when the input's
    columns and types are statically known and every type's
    CAST-to-string render is engine-stable, the deterministic
    hash-Bernoulli lowers to a plain plan-IR Filter — so it CLAIMS
    into remote SQL through the ordinary federation path (dialects
    without md5 — sqlite, derby — refuse at unparse and compile
    locally, the standard capability-gate degrade). At 100 TB this is
    the difference between sampling AT the remote engine and pulling
    the whole table to sample it. Unknown/unstable schemas, p=0/100,
    and below-granularity rates keep the TableSample node (the
    compiler's local arm owns validation + the edge cases)."""
    from .expressions import BinaryOp, Case, Cast, Col, Func, Lit, Not
    from .plans.nodes import Filter, TableSample
    idx = round(pct / 100.0 * 65536)
    fields = _sample_static_fields(plan)
    if (fields is None or not fields or not 0 < idx < 65536
            or any(t not in _SAMPLE_STABLE_TYPES for _, t in fields)):
        return TableSample(plan, pct=pct, seed=seed)

    def _render(n, t):
        # boolean must NOT go through CAST-to-string: MySQL's BOOLEAN
        # is TINYINT(1) and CAST(b AS CHAR) yields '1'/'0' while
        # Spark/DuckDB/Postgres yield 'true'/'false' — a pushed sample
        # would silently select a different subset there (VERDICT r12
        # Next #1). The NULL-preserving searched CASE (no ELSE: NULL
        # falls through to the 'N' sentinel) renders 'true'/'false'
        # identically on every pushdown dialect.
        if t == "boolean":
            return Case(branches=[(Col(n), Lit("true")),
                                  (Not(Col(n)), Lit("false"))])
        return Cast(Col(n), "string")

    key = Func("concat", [Lit(f"{seed}|")] + [
        Func("coalesce", [Func("md5", [_render(n, t)]),
                          Lit("N")]) for n, t in fields])
    pred = BinaryOp(
        "<",
        Func("substring", [Func("md5", [key]), Lit(1), Lit(4)]),
        Lit(format(idx, "04x")))
    return Filter(plan, pred)


def _parse_dotted_name(p: "Parser", what: str) -> str:
    t = p.take()
    if t[0] != "id":
        raise SqlParseError(f"expected table name after {what}, got {t}")
    name = t[1]
    while p.accept_op("."):
        part = p.take()
        if part[0] != "id":
            raise SqlParseError(
                f"expected identifier after '.', got {part}")
        name += "." + part[1]
    return name


def parse_delete(sql: str, resolve_table: Callable[[str], Any]):
    """Parse ``DELETE FROM name [WHERE pred]`` (r12 write-back).
    Returns ``(table_name, pred_or_None)``."""
    p = Parser(sql, resolve_table)
    if not p.at_kw("DELETE"):
        raise SqlParseError("not a DELETE statement")
    p.take()
    p.expect_kw("FROM")
    name = _parse_dotted_name(p, "FROM")
    pred = None
    if p.accept_kw("WHERE"):
        pred = p.parse_expr(_Scope())
    if p.peek() is not None:
        raise SqlParseError(f"trailing tokens at {p.peek()}")
    return name, pred


def parse_update(sql: str, resolve_table: Callable[[str], Any]):
    """Parse ``UPDATE name SET col = expr [, ...] [WHERE pred]`` (r12
    write-back). Returns ``(table_name, [(col, expr), ...],
    pred_or_None)``."""
    p = Parser(sql, resolve_table)
    if not p.at_kw("UPDATE"):
        raise SqlParseError("not an UPDATE statement")
    p.take()
    name = _parse_dotted_name(p, "UPDATE")
    p.expect_kw("SET")
    sets = []
    while True:
        c = p.take()
        if c[0] != "id":
            raise SqlParseError(
                f"expected column name in SET clause, got {c}")
        colname = c[1]
        if p.peek() == ("op", "."):
            # qualified SET column `t.col` (VERDICT r12 What's-wrong
            # #3): a single-table UPDATE makes the qualifier
            # unambiguous — accept it when it names the target table,
            # refuse loudly otherwise
            p.take()
            c2 = p.take()
            if c2[0] != "id":
                raise SqlParseError(
                    f"expected column name after '{colname}.', got {c2}")
            last = name.split(".")[-1].lower()
            if colname.lower() not in (name.lower(), last):
                raise SqlParseError(
                    f"SET column qualifier {colname!r} does not name "
                    f"the UPDATE target {name!r} — qualify with the "
                    f"target table or use the bare column name")
            colname = c2[1]
        p.expect_op("=")
        sets.append((colname, p.parse_expr(_Scope())))
        if not p.accept_op(","):
            break
    pred = None
    if p.accept_kw("WHERE"):
        pred = p.parse_expr(_Scope())
    if p.peek() is not None:
        raise SqlParseError(f"trailing tokens at {p.peek()}")
    return name, sets, pred


def parse_ctas(sql: str, resolve_table: Callable[[str], Any]):
    """Parse ``CREATE [OR REPLACE] TABLE name AS <query>`` (r12
    write-back). Returns ``(table_name, or_replace, source_plan)``."""
    p = Parser(sql, resolve_table)
    if not p.at_kw("CREATE"):
        raise SqlParseError("not a CREATE statement")
    p.take()
    or_replace = False
    if p.accept_kw("OR"):
        p.expect_kw("REPLACE")
        or_replace = True
    if not p.accept_kw("TABLE"):
        raise SqlParseError(
            "only CREATE [OR REPLACE] TABLE ... AS <query> is "
            "supported here")
    name = _parse_dotted_name(p, "TABLE")
    p.expect_kw("AS")
    # CREATE TABLE t AS (SELECT ...): strip only a pair wrapping the
    # WHOLE source — balance-scanned (ADVICE r12: the old last-token
    # strip mangled `AS (SELECT ...) UNION (SELECT ...)`, and the
    # swallowed SqlParseError silently degraded the CTAS to a LOCAL
    # Spark table instead of the remote zero-movement path)
    _strip_full_paren_wrap(p, ("SELECT", "WITH"))
    try:
        plan = p.parse()
    except SqlParseError:
        raise
    except (ValueError, IndexError, AttributeError, TypeError) as e:
        raise SqlParseError(str(e)) from e
    _validate_supported(plan)
    return name, or_replace, plan


def parse_sql(sql: str, resolve_table: Callable[[str], Any]) -> Plan:
    """Parse a SQL string into plan IR. ``resolve_table`` maps a table
    name to a catalog TableHandle. Any parse-stage failure surfaces as
    SqlParseError so callers can fall back."""
    try:
        plan = Parser(sql, resolve_table).parse()
    except SqlParseError:
        raise
    except (ValueError, IndexError, AttributeError, TypeError) as e:
        # any parse-stage defect degrades to the Spark-parser fallback
        # rather than crashing engine.sql (KeyError passes through: the
        # caller treats unknown-table lookups as its own fallback signal)
        raise SqlParseError(str(e)) from e
    _validate_supported(plan)
    return plan
