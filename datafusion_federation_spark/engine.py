"""FederationEngine — the user-facing session object.

The reference wires its pieces into a DataFusion SessionState
(default_session_state, src/lib.rs:25-54: federation rule inserted right
after scalar-subquery decorrelation; FederatedQueryPlanner for physical
planning). Our analog: an engine owning a SparkSession + FederatedCatalog,
a fluent plan builder, the federation pass, and the Spark compiler.

Query lifecycle (SURVEY.md §3):
  build plan (builder or engine.sql) -> federate(plan) -> compile:
  RemoteQueryNode -> executor.execute(sql) + schema cast; local residue ->
  DataFrame ops (Catalyst optimizes/executes).
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler
from .expressions import (
    AggFunc, Alias, Col, Cube, Expr, GroupingSets, Rollup, SortKey,
    _wrap, col, lit,
)
from .federation import _is_star_shell, federate
from .plans.nodes import (
    Aggregate, Distinct, Filter, Join, Limit, Plan, Project, RemoteQueryNode,
    Scan, SetOp, Sort, SubqueryAlias, Union, Window, walk_plan,
)
from .sources.catalog import FederatedCatalog
from .sources.provider import SQLProvider


class FederationEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog = FederatedCatalog(spark)
        self.compiler = Compiler(spark)

    # -- registration ------------------------------------------------------
    def _data_changed(self, types: bool = True) -> None:
        """Invalidate size-dependent compile caches (r12, ADVICE r11
        #1): the theta-BNL probe memoizes a table's small-enough
        verdict per structural plan, valid only while the underlying
        data is immutable. Every path that can change what a name
        resolves to — registration, discovery, inserts — clears it so
        a table that grows past the gate re-probes instead of
        broadcasting an oversized inner (and a shrunk one stops
        refusing). Registration and discovery can also change column
        types, so the inferred schemas go too; row-only DML passes
        ``types=False`` and keeps them."""
        self.compiler._bnl_gate_cache.clear()
        if types:
            self.compiler._schema_cache.clear()

    def register_local_parquet(self, name: str, path: str):
        self._data_changed()
        return self.catalog.register_local_parquet(name, path)

    def register_local_df(self, name: str, df):
        self._data_changed()
        return self.catalog.register_local_df(name, df)

    def register_local_csv(self, name: str, path: str, **options):
        self._data_changed()
        return self.catalog.register_local_csv(name, path, **options)

    def register_local_json(self, name: str, path: str, **options):
        self._data_changed()
        return self.catalog.register_local_json(name, path, **options)

    def register_local_orc(self, name: str, path: str):
        self._data_changed()
        return self.catalog.register_local_orc(name, path)

    def register_remote(self, provider: SQLProvider, local_name: str,
                        remote_name: Optional[str] = None, schema=None):
        self._data_changed()
        return self.catalog.register_remote(provider, local_name,
                                            remote_name, schema)

    def discover(self, provider: SQLProvider, prefix: str = ""):
        self._data_changed()
        return self.catalog.discover(provider, prefix)

    # -- plan building -----------------------------------------------------
    def table(self, name: str) -> "PlanBuilder":
        return PlanBuilder(self, Scan(self.catalog.table(name)))

    def sql(self, query: str, params: Optional[dict] = None) -> DataFrame:
        """SQL front door with FULL federation: the query is parsed into
        plan IR (sqlfront covers the §2C surface), so single-provider
        subtrees collapse into one remote SQL exactly like the builder
        API — the reference's ctx.sql entry point (SURVEY.md §3).
        Constructs outside the parser's surface fall back to Spark's
        parser over per-table federated views (per-table pushdown only).
        DML statements (INSERT INTO ... SELECT, DELETE, UPDATE,
        CREATE TABLE AS — r12 write-back) route to the remote engine
        that owns the target and return the affected-row count the
        engine reports, not a DataFrame.
        """
        import re as _re
        from .dialects import UnsupportedUnparse
        from .sqlfront import SqlParseError, parse_sql
        # raw-text first word: the DML routing must see the verb even
        # for queries the tokenizer can't lex ($$-quoting etc.); skips
        # line AND block comments (r13, VERDICT r12 What's-wrong #2:
        # `/* hint */ INSERT ...` used to miss the verb and die in the
        # view fallback with a confusing Spark error)
        m0 = _re.match(r"(?:\s|--[^\n]*(?:\n|$)|/\*.*?\*/)*([A-Za-z]+)",
                       query, _re.S)
        kw0 = m0.group(1).upper() if m0 else ""
        from .sources.catalog import UnknownTableError
        if kw0 == "EXPLAIN":
            m1 = _re.match(
                r"(?:\s|--[^\n]*(?:\n|$)|/\*.*?\*/)*EXPLAIN\s+"
                r"(ANALYZE\s+)?(?=(INSERT|DELETE|UPDATE|CREATE)\b)",
                query, _re.S | _re.I)
            if m1:
                # staged-SQL dry run for DML (r13): show the exact
                # statement(s) that WOULD ship to the remote engine,
                # shaped like Spark's EXPLAIN (one 'plan' string row)
                if m1.group(1):
                    raise NotImplementedError(
                        "EXPLAIN ANALYZE on a DML statement would "
                        "execute the write — run EXPLAIN to see the "
                        "staged statement, then run the statement")
                rest = query[m1.end():]
                verb = m1.group(2).upper()
                fn = {"INSERT": self._sql_insert,
                      "DELETE": self._sql_delete,
                      "UPDATE": self._sql_update,
                      "CREATE": self._sql_ctas}[verb]
                staged = fn(rest, params, dry_run=True)
                return self.spark.createDataFrame(
                    [(staged,)], "plan string")
        if kw0 in ("INSERT", "DELETE", "UPDATE"):
            try:
                if kw0 == "INSERT":
                    return self._sql_insert(query, params)
                if kw0 == "DELETE":
                    return self._sql_delete(query, params)
                return self._sql_update(query, params)
            except UnknownTableError:
                # a table outside the federation catalog (ADVICE r12):
                # Spark's own catalog may own it — the view fallback
                # lets Spark resolve (and error loudly if nobody does).
                # r13 narrowing: ONLY the typed unresolved-table error
                # reroutes; any other KeyError is a bug and surfaces
                return self._sql_via_views(query, params)
        if kw0 == "CREATE":
            try:
                return self._sql_ctas(query, params)
            except SqlParseError:
                pass        # not CTAS: the view-path fallback may run it
            except UnknownTableError:
                return self._sql_via_views(query, params)
        try:
            plan = parse_sql(query, self.catalog.table)
        except (SqlParseError, KeyError, UnsupportedUnparse):
            # UnsupportedUnparse escaping the parser means some internal
            # canonicalization hit a construct no dialect spells — the
            # query may still be locally executable, so degrade to the
            # per-table-view path rather than hard-error (ADVICE r7).
            return self._sql_via_views(query, params)
        # r13: $1/:name markers now parse to Placeholder — bind, then
        # refuse any still-unbound marker HERE (shipping it verbatim
        # to a remote engine would error confusingly or bind to that
        # session's state; the builder-API execute() keeps the
        # documented verbatim passthrough for plans built by hand)
        self._bind_dml_params(params, plan=plan, what="query")
        return self.execute(plan)

    def sql_plan(self, query: str) -> "PlanBuilder":
        """Parse SQL into a PlanBuilder (inspect/extend/explain before
        executing)."""
        from .sqlfront import parse_sql
        return PlanBuilder(self, parse_sql(query, self.catalog.table))

    def _sql_via_views(self, query: str,
                       params: Optional[dict] = None) -> DataFrame:
        """Fallback: register catalog tables as Spark views (local
        parquet directly; remote tables as whole-table federated reads)
        and let Spark's parser/Catalyst run the query. Only tables whose
        names appear in the query text are registered — registering a
        remote view materializes the whole table, so unreferenced
        tables must not be touched. ``params`` flow to spark.sql(args=)
        (named :param markers)."""
        # identifier tokens only: a table name inside a string literal
        # or comment must NOT trigger registration (the tokenizer strips
        # comments and folds quoted strings into non-id tokens). Queries
        # the tokenizer cannot lex (e.g. :param markers, $$ quoting)
        # fall back to the permissive word scan — over-registration is
        # lazy-cost only, never wrong results.
        from .sqlfront import tokenize
        try:
            toks = tokenize(query)
            words = {t[1].lower() for t in toks if t[0] == "id"}
            # Spark's IDENTIFIER('name') references a table via a STRING
            # token — include those so the fallback still registers them
            for j, tok in enumerate(toks):
                if (tok[0] == "id" and tok[1].upper() == "IDENTIFIER"
                        and toks[j + 1:j + 2] == [("op", "(")]
                        and j + 2 < len(toks) and toks[j + 2][0] == "str"):
                    words.add(toks[j + 2][1].lower())
        except ValueError:
            import re as _re
            words = {w.lower()
                     for w in _re.findall(r"[A-Za-z_][A-Za-z_0-9]*", query)}
        for name in self.catalog.tables():
            if name.lower() not in words:
                continue
            h = self.catalog.table(name)
            df = self.compiler._c(federate(Scan(h)))
            df.createOrReplaceTempView(name)
        if params:
            return self.spark.sql(query, args=params)
        return self.spark.sql(query)

    # -- execution ---------------------------------------------------------
    def execute(self, plan: Plan, params: Optional[dict] = None) -> DataFrame:
        """Execute a plan. ``params`` binds Placeholder expressions
        (``$1`` / named) before federation, so bound values reach the
        generated remote SQL as literals."""
        if params:
            from .expressions import bind_placeholders
            bind_placeholders(plan, params)
        return self.compiler.compile(federate(plan))

    def _bind_dml_params(self, params, plan=None, exprs=(),
                         what: str = "statement") -> None:
        """Bind $1/:name placeholders into a parsed statement (r13,
        VERDICT r12 Next #2 — param-bound DML is the most common
        client shape) and refuse loudly on any marker left unbound:
        a verbatim marker shipped to a remote engine would error
        confusingly or bind to THAT session's parameter state."""
        from .expressions import (
            bind_expr_placeholders, bind_placeholders,
            unbound_placeholders)
        if params:
            if plan is not None:
                bind_placeholders(plan, params)
            for e in exprs:
                bind_expr_placeholders(e, params)
        missing = []
        if plan is not None:
            for node in walk_plan(plan):
                for e in node.exprs():
                    missing += unbound_placeholders(e)
        for e in exprs:
            missing += unbound_placeholders(e)
        if missing:
            raise ValueError(
                f"unbound placeholder(s) "
                f"{', '.join(sorted(set(missing)))} in {what} — pass "
                f"params={{...}} with a value for each marker")

    def _sql_insert(self, query: str, params: Optional[dict] = None,
                    dry_run: bool = False):
        """``INSERT INTO <table> [(cols)] <query>`` front door (r12,
        VERDICT r11 Next #6 — write-back beyond local passthrough).

        Remote target whose source fully claims to the SAME provider:
        the SELECT unparses to the remote dialect and the whole
        INSERT ... SELECT executes REMOTELY via the executor's
        execute_statement hook — one round-trip, zero data through
        Spark (the reference only delegates insert_into to a fallback
        provider, src/table_provider.rs:126-139; this extends it the
        way a SQL engine would). Cross-provider writes refuse loudly —
        silently materializing a 100 TB source through the driver to
        ship it row-by-row is exactly the wrong default; the explicit
        ``insert_into(name, df)`` API is the opt-in for that. Local
        targets compute the source (federating any remote subtrees)
        and append via the existing passthrough. Returns the affected
        row count when the engine reports one (remote path) or None
        (local path)."""
        from .sqlfront import parse_insert
        name, cols, plan = parse_insert(query, self.catalog.table)
        h = self.catalog.table(name)
        self._bind_dml_params(params, plan=plan, what="INSERT source")
        fed = federate(plan)
        if h.provider is not None and hasattr(h.provider, "executor"):
            remote_sql = self._claimed_source_sql(fed, plan, h.provider)
            if remote_sql is None:
                raise NotImplementedError(
                    f"INSERT INTO remote table {name!r}: the source "
                    f"query does not fully claim to the same provider "
                    f"({h.provider.name}) — a cross-provider write "
                    f"would materialize the source through the Spark "
                    f"driver; compute it explicitly and use "
                    f"engine.insert_into(name, df)")
            d = h.provider.dialect
            tbl = h.remote_sql_ref(d)
            collist = ("" if not cols
                       else " (" + ", ".join(d.quote(c) for c in cols)
                       + ")")
            stmt = f"INSERT INTO {tbl}{collist} {remote_sql}"
            if dry_run:
                return stmt
            self._data_changed(types=False)  # rows move: BNL out
            return h.provider.executor.execute_statement(
                self.spark, stmt)
        # local target: compute the source (remote subtrees still
        # federate) and append through the passthrough path
        if cols:
            # a parquet append is by-schema, not by-INSERT-column-list:
            # renaming positionally and appending would leave unnamed
            # table columns missing from the new files (mixed-schema
            # directory) — refuse rather than corrupt the layout
            raise NotImplementedError(
                f"INSERT INTO local table {name!r} with a column "
                f"list: parquet appends whole rows — SELECT every "
                f"column in table order instead")
        if dry_run:
            return (f"-- LOCAL parquet append to {name!r} via the "
                    f"DataFrame passthrough; no remote statement")
        df = self.compiler.compile(fed)
        return self.insert_into(name, df)

    @staticmethod
    def _unwrap_star_shell(fed: Plan) -> Plan:
        """Look through wrap_projection's SELECT-* shell: a fully
        claimed plan is a RemoteQueryNode, possibly under Project(*)."""
        core = fed
        while _is_star_shell(core):
            core = core.input
        return core

    def _claimed_source_sql(self, fed: Plan, plan: Plan, provider):
        """Remote SQL for a DML source, or None when the source does
        not fully claim to ``provider``. Provider identity is (name,
        compute_context) — the federation's own rule (reference
        src/lib.rs:76-90) — NOT object identity: two SQLProvider
        instances wrapping one engine must co-claim here exactly as
        they do in federate(). Scanless literal sources (FROM-less
        SELECT / VALUES-as-UNION) read nothing anywhere, so they
        render directly in the target dialect."""
        core = self._unwrap_star_shell(fed)
        if isinstance(core, RemoteQueryNode) and core.provider == provider:
            return core.sql
        if not any(isinstance(x, (Scan, RemoteQueryNode))
                   for x in walk_plan(fed)):
            # r13 self-review fix: plan-level scanlessness is NOT
            # enough — EXPRESSION subqueries can hide scans, and a
            # local-table subquery rendered verbatim would silently
            # read the remote's SAME-NAMED table. Vet every expression
            # subquery exactly like a DML predicate: same-provider
            # claims splice, literal-only ones pass, the rest refuse.
            for node in walk_plan(plan):
                for e in node.exprs():
                    self._inline_dml_subqueries(
                        e, "INSERT source", provider)
            from .unparser import Unparser
            return Unparser(provider.executor.dialect).plan_to_sql(plan)
        return None

    def _sql_ctas(self, query: str, params: Optional[dict] = None,
                  dry_run: bool = False):
        """``CREATE [OR REPLACE] TABLE name AS <query>`` (r12
        write-back): when the source fully claims to ONE remote
        provider, the whole CTAS executes there — the engine builds
        the table from its own data, nothing crosses Spark — and the
        new table registers locally under the same provider, so it is
        immediately queryable/federable. Dialect gates: OR REPLACE
        only where the engine spells it (DuckDB); Derby has no
        CTAS-with-data, so it runs CREATE ... WITH NO DATA + INSERT
        (two statements, same zero-movement property)."""
        from .sqlfront import parse_ctas
        name, or_replace, plan = parse_ctas(query, self.catalog.table)
        self._bind_dml_params(params, plan=plan, what="CTAS source")
        if not or_replace:
            # r13 (VERDICT r12 Next #7 review edge): a CTAS onto a name
            # already in the federation catalog would either die on the
            # remote CREATE or shadow the registration — refuse up
            # front with both outs named
            try:
                self.catalog.table(name)
            except KeyError:
                pass
            else:
                raise ValueError(
                    f"CREATE TABLE {name!r}: the name is already "
                    f"registered — use CREATE OR REPLACE TABLE (DuckDB) "
                    f"or a new name")
        fed = federate(plan)
        core = self._unwrap_star_shell(fed)
        if not isinstance(core, RemoteQueryNode):
            raise NotImplementedError(
                "CREATE TABLE AS: the source query does not fully "
                "claim to one remote provider — materialize with "
                "engine.execute + insert_into instead")
        prov = core.provider
        d = prov.dialect
        tbl = d.quote_table(name)
        if or_replace and not getattr(d, "supports_create_or_replace",
                                      False):
            raise NotImplementedError(
                f"CREATE OR REPLACE TABLE: the {d.name} dialect has "
                f"no OR REPLACE spelling — DROP first, or use a new "
                f"name")
        kw = "CREATE OR REPLACE TABLE" if or_replace else "CREATE TABLE"
        if dry_run:
            if getattr(d, "ctas_needs_no_data", False):
                return (f"{kw} {tbl} AS {core.sql} WITH NO DATA;\n"
                        f"INSERT INTO {tbl} {core.sql}")
            return f"{kw} {tbl} AS {core.sql}"
        if getattr(d, "ctas_needs_no_data", False):
            prov.executor.execute_statement(
                self.spark, f"{kw} {tbl} AS {core.sql} WITH NO DATA")
            try:
                n = prov.executor.execute_statement(
                    self.spark, f"INSERT INTO {tbl} {core.sql}")
            except Exception as exc:
                # two-statement CTAS is non-atomic (ADVICE r12): a
                # failed INSERT would strand an empty unregistered
                # shell that a retry trips over — drop it best-effort
                # and say so either way
                try:
                    prov.executor.execute_statement(
                        self.spark, f"DROP TABLE {tbl}")
                except Exception:
                    raise RuntimeError(
                        f"CTAS INSERT into {name!r} failed after the "
                        f"CREATE, and dropping the empty shell ALSO "
                        f"failed — an empty table {name!r} is left on "
                        f"the remote engine") from exc
                raise
        else:
            n = prov.executor.execute_statement(
                self.spark, f"{kw} {tbl} AS {core.sql}")
        self.register_remote(prov, name)
        return n

    def _dml_target(self, name: str, verb: str):
        """Resolve + vet a remote DML target; returns (handle,
        dialect, quoted table ref). Local targets refuse with the
        recompute-and-overwrite workaround named — parquet is
        immutable, and pretending otherwise would silently rewrite
        whole files for a row-level statement."""
        h = self.catalog.table(name)
        if h.provider is None or not hasattr(h.provider, "executor"):
            raise NotImplementedError(
                f"{verb} targets a LOCAL table {name!r}: parquet is "
                f"immutable — recompute the surviving rows and "
                f"insert_into(name, df, mode='overwrite'), or "
                f"register the table on a remote engine")
        d = h.provider.dialect
        return h, d, h.remote_sql_ref(d)

    def _inline_dml_subqueries(self, e, verb: str, provider) -> None:
        """Subqueries in a DML predicate/value (r13, VERDICT r12 Next
        #3): when the subquery plan claims WHOLLY to the DML target's
        provider, the whole statement can ship verbatim — its plan is
        swapped for a VerbatimSQLPlan carrying the claimed SQL, so the
        expression unparse splices it into the one remote statement.
        Cross-provider (or local-table) subqueries still refuse: they
        would need Spark-side materialization the write-back path
        deliberately never does."""
        from .expressions import (
            Exists, InSubquery, ScalarSubquery, SetComparison, walk)
        from .plans.nodes import VerbatimSQLPlan
        if e is None:
            return
        for x in walk(e):
            if isinstance(x, (Exists, InSubquery, ScalarSubquery,
                              SetComparison)):
                if isinstance(x.plan, VerbatimSQLPlan):
                    continue     # shared plan object, already claimed
                fed = federate(x.plan)
                core = self._unwrap_star_shell(fed)
                if (isinstance(core, RemoteQueryNode)
                        and core.provider == provider):
                    x.plan = VerbatimSQLPlan(core.sql)
                    continue
                if not any(isinstance(y, (Scan, RemoteQueryNode))
                           for y in walk_plan(fed)):
                    # literal-only subquery (FROM-less SELECT): reads
                    # nothing anywhere, renders in any dialect — but
                    # ITS OWN expression subqueries must vet too
                    for node in walk_plan(fed):
                        for e2 in node.exprs():
                            self._inline_dml_subqueries(
                                e2, verb, provider)
                    continue
                raise NotImplementedError(
                    f"{verb} with a subquery that does not claim "
                    f"wholly to the target's provider "
                    f"({provider.name}) — compute the key set "
                    f"first, or run the statement on the remote "
                    f"engine directly")

    def _sql_delete(self, query: str, params: Optional[dict] = None,
                    dry_run: bool = False):
        """``DELETE FROM <remote> [WHERE pred]`` (r12 write-back): the
        predicate unparses to the target dialect and the statement
        executes wholly on the remote engine. r13: params bind, and
        subquery predicates that claim wholly to the target's provider
        ship verbatim (cross-provider ones refuse); local parquet
        targets refuse with the overwrite workaround named."""
        from .sqlfront import parse_delete
        name, pred = parse_delete(query, self.catalog.table)
        h, d, tbl = self._dml_target(name, "DELETE")
        self._bind_dml_params(params, exprs=(pred,), what="DELETE")
        self._inline_dml_subqueries(pred, "DELETE", h.provider)
        stmt = f"DELETE FROM {tbl}"
        if pred is not None:
            stmt += f" WHERE {pred.to_sql(d)}"
        if dry_run:
            return stmt
        self._data_changed(types=False)
        return h.provider.executor.execute_statement(self.spark, stmt)

    def _sql_update(self, query: str, params: Optional[dict] = None,
                    dry_run: bool = False):
        """``UPDATE <remote> SET col = expr [, ...] [WHERE pred]``
        (r12 write-back): assignments and predicate unparse to the
        target dialect; one remote statement, no data through Spark.
        r13: params bind, and same-provider subqueries in the
        predicate or SET values ship verbatim."""
        from .sqlfront import parse_update
        name, sets, pred = parse_update(query, self.catalog.table)
        h, d, tbl = self._dml_target(name, "UPDATE")
        self._bind_dml_params(
            params, exprs=(pred, *(e for _, e in sets)), what="UPDATE")
        self._inline_dml_subqueries(pred, "UPDATE", h.provider)
        for _, e in sets:
            self._inline_dml_subqueries(e, "UPDATE", h.provider)
        assigns = ", ".join(f"{d.quote(c)} = {e.to_sql(d)}"
                            for c, e in sets)
        stmt = f"UPDATE {tbl} SET {assigns}"
        if pred is not None:
            stmt += f" WHERE {pred.to_sql(d)}"
        if dry_run:
            return stmt
        self._data_changed(types=False)
        return h.provider.executor.execute_statement(self.spark, stmt)

    def insert_into(self, table_name: str, df: DataFrame,
                    mode: str = "append"):
        """INSERT INTO passthrough (reference delegates to the fallback
        provider, src/table_provider.rs:126-139): remote tables go
        through the executor's insert hook; local parquet tables append
        to their path."""
        self._data_changed(types=False)  # rows added: BNL out
        h = self.catalog.table(table_name)
        if h.provider is not None and hasattr(h.provider, "executor"):
            ref = h.remote.ref if h.remote is not None else table_name
            return h.provider.executor.insert(self.spark, df, ref, mode)
        if h.fallback_path is not None:
            df.write.mode(mode) \
                .format(getattr(h, "fallback_format", "parquet")) \
                .save(h.fallback_path)
            return None
        raise NotImplementedError(
            f"table {table_name!r} supports no insert path")

    def explain(self, plan: Plan, analyze: bool = False) -> str:
        """Staged explain like the reference's EXPLAIN output
        (src/sql/mod.rs:303-368): which subtrees federated, the base and
        rewritten SQL per federated node, and Spark's physical plan for
        the residue. Plain explain runs no remote SQL: each federated
        node plans as an empty frame of its inferred schema (a node whose
        schema cannot be inferred still runs). ``analyze=True`` executes
        the plan and reports row count + wall time (AnalyzeExec analog;
        the Analyze wrapper itself is never federated —
        src/optimizer/mod.rs:194-209)."""
        from .plans.nodes import Analyze
        if isinstance(plan, Analyze):
            plan, analyze = plan.input, True
        fed = federate(plan)
        lines = ["== Federated logical plan =="]
        lines += _render_plan(fed)
        for n in walk_plan(fed):
            if isinstance(n, RemoteQueryNode):
                lines.append(f"-- federated on {n.provider!r}")
                if n.base_sql and n.base_sql != n.sql:
                    lines.append(f"   base_sql      = {n.base_sql}")
                lines.append(f"   rewritten_sql = {n.sql}")
        df = self.compiler.compile(fed, plan_only=not analyze)
        lines.append("== Spark physical plan (local residue) ==")
        lines.append(df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")))
        if analyze:
            import time as _time
            t0 = _time.time()
            n = df.count()
            lines.append("== Analyze ==")
            lines.append(f"rows: {n}, elapsed: {_time.time() - t0:.3f}s")
        return "\n".join(lines)


def _render_plan(p: Plan, depth: int = 0):
    pad = "  " * depth
    if isinstance(p, RemoteQueryNode):
        yield f"{pad}Federated[{p.provider.name}]"
        return
    label = type(p).__name__
    if isinstance(p, Scan):
        label += f"({p.table.local_name})"
    yield pad + label
    for i in p.inputs():
        yield from _render_plan(i, depth + 1)


class PlanBuilder:
    """Fluent builder over plan IR (LogicalPlanBuilder analog —
    the reference exercises scan().project().build() at
    src/sql/analyzer.rs:715-738)."""

    def __init__(self, engine: FederationEngine, plan: Plan):
        self._engine = engine
        self._plan = plan

    def _next(self, plan: Plan) -> "PlanBuilder":
        return PlanBuilder(self._engine, plan)

    # -- relational verbs ---------------------------------------------------
    def select(self, *exprs) -> "PlanBuilder":
        exprs = [col(e) if isinstance(e, str) else e for e in exprs]
        return self._next(Project(self._plan, exprs))

    def filter(self, predicate: Expr) -> "PlanBuilder":
        return self._next(Filter(self._plan, predicate))

    where = filter

    def join(self, other: "PlanBuilder", on=None, how: str = "inner",
             using=None) -> "PlanBuilder":
        return self._next(Join(self._plan, other._plan, how=how,
                               condition=on, using=using))

    def group_by(self, *keys) -> "GroupedBuilder":
        keys = [col(k) if isinstance(k, str) else k for k in keys]
        return GroupedBuilder(self, keys)

    def rollup(self, *keys) -> "GroupedBuilder":
        keys = [col(k) if isinstance(k, str) else k for k in keys]
        return GroupedBuilder(self, [Rollup(keys)])

    def cube(self, *keys) -> "GroupedBuilder":
        keys = [col(k) if isinstance(k, str) else k for k in keys]
        return GroupedBuilder(self, [Cube(keys)])

    def grouping_sets(self, *sets) -> "GroupedBuilder":
        conv = [[col(k) if isinstance(k, str) else k for k in s]
                for s in sets]
        return GroupedBuilder(self, [GroupingSets(conv)])

    def window(self, *window_exprs) -> "PlanBuilder":
        return self._next(Window(self._plan, list(window_exprs)))

    def order_by(self, *keys) -> "PlanBuilder":
        norm = []
        for k in keys:
            if isinstance(k, str):
                norm.append(SortKey(col(k)))
            elif isinstance(k, SortKey):
                norm.append(k)
            else:
                norm.append(SortKey(k))
        return self._next(Sort(self._plan, norm))

    def limit(self, n: int, offset: int = 0) -> "PlanBuilder":
        return self._next(Limit(self._plan, fetch=n, skip=offset))

    def offset(self, n: int) -> "PlanBuilder":
        return self._next(Limit(self._plan, fetch=None, skip=n))

    def union_all(self, *others: "PlanBuilder") -> "PlanBuilder":
        return self._next(Union([self._plan, *[o._plan for o in others]],
                                all=True))

    def union(self, *others: "PlanBuilder") -> "PlanBuilder":
        return self._next(Union([self._plan, *[o._plan for o in others]],
                                all=False))

    def intersect(self, other: "PlanBuilder", all: bool = False):
        return self._next(SetOp(self._plan, other._plan, "INTERSECT", all))

    def except_(self, other: "PlanBuilder", all: bool = False):
        return self._next(SetOp(self._plan, other._plan, "EXCEPT", all))

    def distinct(self) -> "PlanBuilder":
        return self._next(Distinct(self._plan))

    def alias(self, name: str) -> "PlanBuilder":
        return self._next(SubqueryAlias(self._plan, name))

    # -- terminal -----------------------------------------------------------
    @property
    def plan(self) -> Plan:
        return self._plan

    def to_df(self) -> DataFrame:
        return self._engine.execute(self._plan)

    def explain(self) -> str:
        return self._engine.explain(self._plan)

    def collect(self):
        return self.to_df().collect()


class GroupedBuilder:
    def __init__(self, parent: PlanBuilder, keys: Sequence[Expr]):
        self._parent = parent
        self._keys = keys

    def agg(self, *aggs, having: Optional[Expr] = None) -> PlanBuilder:
        return self._parent._next(
            Aggregate(self._parent._plan, self._keys, list(aggs),
                      having=having))
