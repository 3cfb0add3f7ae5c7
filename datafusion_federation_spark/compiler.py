"""Plan -> PySpark DataFrame compiler (the local execution path).

The reference delegates all local relational execution to DataFusion
(SURVEY.md §4: join reordering, pushdown, codegen all delegated); our local
engine is Catalyst/Tungsten. This module turns plan-IR nodes into declarative
DataFrame operations so Spark owns physical strategy — predicate pushdown to
parquet, column pruning, broadcast-vs-sort-merge join selection, AQE, and
whole-stage codegen all apply untouched.

RemoteQueryNode leaves (produced by the federation pass) execute via their
provider's SQLExecutor and are cast to the plan's expected schema — the
SchemaCastScanExec analog (reference src/schema_cast/mod.rs:27-146). The
cast projection is appended only when the remote result differs from
that schema in a column name or type; a strongly typed Arrow remote
usually matches it already. The cast target is inferred here and nowhere
else (``_remote_schema``).
"""

from __future__ import annotations

from typing import Any, Dict, List, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .expressions import Alias, Col, Cube, Expr, GroupingSets, Rollup, Star
from .plans.nodes import (
    Aggregate, Analyze, AsofJoin, Distinct, Filter, Join, LateralJoin,
    Limit, OneRow, Plan, Project, RecursiveCTE, RecursiveRef,
    RemoteQueryNode, Scan, SetOp, Sort, SubqueryAlias, Union, Window,
)
from .federation import absorbed_relations
from .schema_cast import cast_dataframe
from .sources.provider import LRU, SchemaCache

#: a federated result the executor's statistics() puts at or below this
#: many rows is hinted for broadcast
BROADCAST_THRESHOLD_ROWS = 1_000_000

_JOIN_HOW = {
    "inner": "inner", "left": "left", "right": "right", "full": "outer",
    "cross": "cross", "semi": "left_semi", "anti": "left_anti",
}


class Compiler:
    def __init__(self, spark: SparkSession,
                 runtime_join_filters: bool = False):
        self.spark = spark
        #: implicit-PIVOT discovery cap (r10): mirrors Spark's own
        #: spark.sql.pivotMaxValues default — the two-phase pre-query
        #: refuses loudly above it instead of building a 100k-column
        #: frame by accident
        self.pivot_max_values = 10_000
        #: pure-theta correlation gate (r10, VERDICT r9 Next #4):
        #: LATERAL aggregates/top-k and scalar subqueries with NO
        #: equality conjunct compile as a broadcast nested loop when
        #: the inner side is PROVABLY at or below this row count;
        #: above it the historical refusal stands
        self.theta_bnl_rows = 10_000
        #: r11: probe-verdict memo for _theta_bnl_gate (keyed on the
        #: subquery body's structural repr; a bounded LRU) + a probe
        #: counter the memoization tests read
        self._bnl_gate_cache = LRU()
        self._bnl_probe_count = 0
        #: cast targets of federated nodes, cleared on registration
        self._schema_cache = SchemaCache()
        #: opt-in: before executing a federated join input, compute
        #: min/max of the other side's join key and inline the bounds
        #: into the remote SQL (the automated form of the reference's
        #: physical filter pushdown, src/sql/mod.rs:416-444) — costs one
        #: small extra job on the local side, saves shipping the
        #: unfiltered remote table
        self.runtime_join_filters = runtime_join_filters
        #: set for the duration of compile(plan_only=True)
        self._plan_only = False
        #: WITH RECURSIVE state: name -> working-table DataFrame during a
        #: fixpoint run, and id(node) -> result for repeated references
        self._recursive_work: dict = {}
        self._recursive_results: dict = {}
        #: id(RemoteQueryNode) -> compiled (lazily checkpointed)
        #: DataFrame, pinned by iterative compiles so a remote subtree
        #: referenced once per fixpoint round (or twice by the lateral
        #: empty-group fixup) executes its remote SQL ONCE
        self._static_reuse: dict = {}
        #: diagnostics: fixpoint executions this compiler has run (the
        #: shared-node cache invariant is asserted against this in
        #: tests — a CTE referenced twice must run its fixpoint once)
        self.fixpoint_runs = 0

    # ------------------------------------------------------------------
    def compile(self, plan: Plan, plan_only: bool = False) -> DataFrame:
        """``plan_only`` builds the frame without running remote SQL:
        each federated node whose schema is known compiles to an empty
        frame of that schema (for explain), and the compile-time probes
        that would read those frames (runtime-filter bounds, the theta
        BNL gate) are skipped."""
        self._plan_only = plan_only
        try:
            return self._c(plan)
        finally:
            # a failure mid-compile must not leave stale id()-keyed
            # entries behind: a later plan node allocated at the same
            # address would silently reuse the wrong DataFrame
            self._plan_only = False
            self._recursive_results.clear()
            self._static_reuse.clear()

    def _remote_schema(self, p: RemoteQueryNode):
        """Cast target of a federated node (src/sql/mod.rs:143-161): the
        registered schema of a whole-table read, else inferred here."""
        if p.schema is not None:
            return p.schema
        from . import schema_infer
        return schema_infer.infer_plan_schema(
            self.spark, p.plan, self._schema_cache, p.provider.executor)

    def _read_remote(self, p: RemoteQueryNode, schema) -> DataFrame:
        ex = p.provider.executor
        sql = ex.apply_runtime_filters(p.sql, p.runtime_filters)
        if self._plan_only and schema is not None:
            # explain without analyze: an empty RDD-backed leaf builds
            # with no job, and unlike a `WHERE 1 = 0` LocalRelation
            # Catalyst cannot prove it empty, so the joins, aggregates
            # and local scans above it stay in the explained plan
            df = self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), schema)
        else:
            df = ex.execute(self.spark, sql, schema=schema)
            if schema is not None and _cast_changes(df.schema, schema):
                # SchemaCastScanExec analog: cast the remote result to
                # the plan's expected schema right after the read,
                # unless the remote already returned its names and types.
                df = cast_dataframe(df, schema)
        # statistics-driven broadcast posture: a known-small federated
        # result is a broadcast candidate for downstream joins
        # (reference statistics hook, src/sql/executor.rs:61-63).
        # statistics() is a CHEAP hook — the row count of the result
        # just read, or a catalog/planner estimate for executors whose
        # rows never reach the driver; it never re-runs the query. It
        # is asked about the SQL that ran, runtime filters included.
        est = ex.statistics(sql)
        if est is not None:
            # executors whose hook reports an ESTIMATE declare
            # statistics_is_estimate; the 2x lag-safety margin is
            # applied HERE at the threshold comparison — an inflated
            # figure can only SUPPRESS the hint — while every other
            # statistics() reader sees the raw value.
            if getattr(ex, "statistics_is_estimate", False):
                est *= 2
            if est <= BROADCAST_THRESHOLD_ROWS:
                df = F.broadcast(df)
        return df

    # ------------------------------------------------------------------
    def _c(self, p: Plan) -> DataFrame:
        pinned = self._static_reuse.get(id(p))
        if pinned is not None:
            return pinned
        if isinstance(p, Analyze):
            # AnalyzeExec analog: execution + metrics are driven by
            # engine.explain(analyze=True); plain compilation runs the
            # input (the Analyze wrapper itself is never federated)
            return self._c(p.input)

        if isinstance(p, RemoteQueryNode):
            df = self._read_remote(p, self._remote_schema(p))
            # the claimed sub-plan's qualifiers were absorbed into the
            # remote SQL; re-apply the first on the DataFrame so local
            # parents (joins above the federation cut) can still qualify
            # columns — federation.requalify points the others at it
            rels = absorbed_relations(p.plan)
            if rels:
                df = df.alias(rels[0][0])
            return df

        if isinstance(p, Scan):
            t = p.table
            if t.fallback_path is not None:
                df = (self.spark.read
                      .format(getattr(t, "fallback_format", "parquet"))
                      .load(t.fallback_path))
            elif t.provider is not None and hasattr(t.provider, "executor"):
                # fallback provider path: whole-table remote read
                # (FederatedTableProviderAdaptor fallback,
                # reference src/table_provider.rs:110-124)
                ref = t.remote_sql_ref(t.provider.dialect)
                df = t.provider.executor.execute(
                    self.spark, f"SELECT * FROM {ref}")
            else:
                df = self.spark.table(t.local_name)
            if p.projection:
                df = df.select(*p.projection)  # column pruning at the scan
            return df.alias(t.local_name)

        if isinstance(p, Project):
            df = self._c(p.input)
            projections = self._expand_star_options(df, p.projections)
            df, projs, _ = self._prepare_exprs(df, projections, p.input)
            df, projs = self._lower_groups_frames(df, projs)
            df, projs = self._lower_exclude_minmax(df, projs)
            projs = self._hint_decimal_distinct_windows(df, projs)
            return df.select(*[e.to_spark() for e in projs])

        if isinstance(p, Filter):
            from .expressions import (
                BinaryOp, Exists, InSubquery, ScalarSubquery,
                walk as walk_expr)
            pred = _rewrite_expr(p.predicate, self._rewrite_quantifier)
            nodes = list(walk_expr(pred))
            if any(isinstance(n, (Exists, InSubquery)) for n in nodes):
                # EXISTS / IN-subquery predicates compile as joins; they
                # may appear as AND-conjuncts mixed with plain predicates
                conj = list(_split_conjuncts(pred))
                subq = [c for c in conj
                        if isinstance(c, (Exists, InSubquery))]
                plain = [c for c in conj
                         if not isinstance(c, (Exists, InSubquery))]
                for c in plain:
                    if any(isinstance(n, (Exists, InSubquery))
                           for n in walk_expr(c)):
                        raise ValueError(
                            "subquery predicates must be top-level "
                            "conjuncts in a Filter")
                df = self._c(p.input)
                if plain:
                    pp = plain[0]
                    for k in plain[1:]:
                        pp = BinaryOp("AND", pp, k)
                    df = self._filter_plain(df, pp, p.input)
                for c in subq:
                    df = self._apply_subquery_pred(df, c, p.input)
                return df
            return self._filter_plain(self._c(p.input), pred, p.input)

        if isinstance(p, OneRow):
            # one zero-column row; a parent Project selects literals
            # over it (EmptyRelation produce_one_row analog)
            return self.spark.range(1).select()

        from .plans.nodes import SeriesScan
        if isinstance(p, SeriesScan):
            # inclusive bounds (Postgres/DuckDB) -> exclusive range;
            # a sign-mismatched span yields empty on both engines, and
            # spark.range does the same once the stop adjustment never
            # flips an empty span non-empty
            stop = p.stop + (1 if p.step > 0 else -1)
            if (p.step > 0 and p.start > p.stop) or \
                    (p.step < 0 and p.start < p.stop):
                stop = p.start          # provably empty either way
            return self.spark.range(p.start, stop, p.step).toDF(p.col)

        if isinstance(p, RecursiveCTE):
            # one fixpoint run per compile() even when the CTE is
            # referenced several times: the parser shares one node
            # object across all mentions, so id()-keying is exact
            cached = self._recursive_results.get(id(p))
            if cached is None:
                cached = self._compile_recursive(p)
                self._recursive_results[id(p)] = cached
            return cached

        if isinstance(p, RecursiveRef):
            df = self._recursive_work.get(p.name.lower())
            if df is None:
                raise ValueError(
                    f"recursive reference '{p.name}' outside its "
                    f"WITH RECURSIVE scope")
            return df.alias(p.name)

        if isinstance(p, AsofJoin):
            return self._compile_asof(p)

        if isinstance(p, LateralJoin):
            return self._compile_lateral(p)

        if isinstance(p, Join):
            left = right = None
            # plain explain skips the bounds job: over empty remote
            # leaves it would only ever bound the remote side to nothing
            if (self.runtime_join_filters and p.how in ("inner", "semi")
                    and not self._plan_only):
                p, left, right = self._push_runtime_join_filter(p)
            left = self._c(p.left) if left is None else left
            right = self._c(p.right) if right is None else right
            how = _JOIN_HOW[p.how]
            if p.how == "cross":
                return left.crossJoin(right)
            on = p.using if p.using else (
                p.condition.to_spark() if p.condition is not None else None)
            return left.join(right, on=on, how=how)

        if isinstance(p, Aggregate):
            df = self._c(p.input)
            df, aggs_x, _ = self._prepare_exprs(df, p.aggregates, p.input)
            aggs = [a.to_spark() for a in aggs_x]
            gb, key_names = self._grouping(df, p.group_by)
            if aggs:
                out = gb.agg(*aggs)
            else:
                # GROUP BY with no aggregates (SELECT a FROM t GROUP BY
                # a): Spark's agg() needs >= 1 expression — use a dummy
                # and drop it so the output schema matches the SQL
                out = gb.agg(F.count(F.lit(1)).alias("__dummy")) \
                        .drop("__dummy")
            if key_names and any(n is not None for n in key_names):
                # grouping-set keys were declared with select-list
                # labels (Alias members): Spark's rollup/cube/
                # groupingSets must receive the BARE expressions —
                # GROUPING(x) refuses to resolve against an aliased
                # grouping column (GROUPING_COLUMN_MISMATCH) — so the
                # labels are applied positionally AFTER the aggregate
                # (keys lead the output in declaration order).
                cols = out.columns
                renamed = [kn if kn is not None else cols[i]
                           for i, kn in enumerate(key_names)]
                out = out.toDF(*renamed, *cols[len(key_names):])
            if p.having is not None:
                from .expressions import ScalarSubquery, walk as walk_expr
                if any(isinstance(x, ScalarSubquery)
                       for x in walk_expr(p.having)):
                    # HAVING against a scalar subquery (TPC-H Q11 shape):
                    # route through the subquery-attaching filter path
                    # (outer plan = the aggregate itself: aliases bound
                    # below it are this scope's provenance domain)
                    out = self._filter_plain(out, p.having, p)
                else:
                    out = out.filter(p.having.to_spark())
            return out

        if isinstance(p, Window):
            df = self._c(p.input)
            cols = [F.col("*")] + [e.to_spark() for e in p.window_exprs]
            return df.select(*cols)

        if isinstance(p, Sort):
            df = self._c(p.input)
            return df.orderBy(*[k.to_spark() for k in p.keys])

        if isinstance(p, Limit):
            if p.with_ties:
                return self._compile_limit_ties(p)
            df = self._c(p.input)
            if p.skip:
                df = df.offset(p.skip)
            if p.fetch is not None:
                df = df.limit(p.fetch)
            return df

        if isinstance(p, Union):
            # positional union — SQL UNION semantics (the federated path
            # unparses positional UNION ALL; by-name would diverge when
            # branch output names differ)
            dfs = [self._c(b) for b in p.branches]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.union(d)
            return out if p.all else out.distinct()

        if isinstance(p, SetOp):
            l, r = self._c(p.left), self._c(p.right)
            if p.op == "INTERSECT":
                return l.intersectAll(r) if p.all else l.intersect(r)
            return l.exceptAll(r) if p.all else l.subtract(r)

        if isinstance(p, Distinct):
            return self._c(p.input).distinct()

        if isinstance(p, SubqueryAlias):
            return self._c(p.input).alias(p.alias)

        from .plans.nodes import Pivot, Unpivot
        if isinstance(p, Unpivot):
            df = self._c(p.input)
            missing = [c for c in p.cols if c not in df.columns]
            if missing:
                raise ValueError(f"UNPIVOT columns not found: {missing}")
            ids = [c for c in df.columns if c not in set(p.cols)]
            out = df.unpivot(ids, list(p.cols), p.name_col, p.value_col)
            if not p.include_nulls:
                # engines drop NULL values by default; Spark's
                # DataFrame.unpivot keeps them
                out = out.filter(F.col(p.value_col).isNotNull())
            return out

        if isinstance(p, Pivot):
            from .expressions import walk as walk_expr
            df = self._c(p.input)
            agg_list = list(p.aggs) if p.aggs is not None else [p.agg]
            agg_refs = {x.name for a in agg_list for x in walk_expr(a)
                        if isinstance(x, Col)}
            if p.pivot_cols is not None:
                return self._compile_multikey_pivot(
                    p, df, agg_list, agg_refs)
            ids = [c for c in df.columns
                   if c != p.pivot_col and c not in agg_refs]
            values = p.values
            if values is None:
                # r10 (VERDICT r9 Next #3): implicit value discovery —
                # the engines' own two-phase protocol (DuckDB's binder
                # runs a hidden `SELECT DISTINCT ... LIMIT pivot_limit`
                # pre-query; Spark's pivot() without values does the
                # same under spark.sql.pivotMaxValues). Bounded: the
                # driver holds at most cap+1 scalar keys, never data
                # rows; ascending order matches DuckDB's column order.
                cap = self.pivot_max_values
                rows = (df.select(p.pivot_col).distinct()
                        .orderBy(p.pivot_col).limit(cap + 1).collect())
                values = [r[0] for r in rows]
                if len(values) > cap:
                    raise ValueError(
                        f"PIVOT column '{p.pivot_col}' has more than "
                        f"{cap} distinct values — an implicit pivot "
                        f"this wide is almost certainly a mistake; "
                        f"spell the IN list explicitly or raise "
                        f"pivot_max_values")
                if any(v is None for v in values):
                    raise NotImplementedError(
                        "implicit PIVOT over a key column containing "
                        "NULL: engines disagree on the NULL column's "
                        "name — spell the IN list explicitly")
            gp = df.groupBy(*ids).pivot(p.pivot_col, list(values))
            from .expressions import Alias as _AliasX
            if p.aggs is not None:
                # r10 multi-aggregate USING: value-major {value}_{alias}
                # columns, the shared Spark/DuckDB order
                out = gp.agg(*[a.to_spark() for a in agg_list])
                per_value = [a.name for a in agg_list]
                count_idx = {
                    i for i, a in enumerate(agg_list)
                    if getattr(a.expr, "name", "").lower() == "count"}
            else:
                out = gp.agg(p.agg.to_spark())
                # DuckDB suffixes the alias even for a SINGLE aliased
                # aggregate (x_s, y_s); Spark drops it
                single_alias = (p.agg.name
                                if isinstance(p.agg, _AliasX) else None)
                base_agg = (p.agg.expr if isinstance(p.agg, _AliasX)
                            else p.agg)
                per_value = [single_alias]
                count_idx = ({0} if getattr(base_agg, "name", ""
                                            ).lower() == "count"
                             else set())
            # r11 (VERDICT r10 Next #7 review): rename POSITIONALLY —
            # Spark's pivot output is ids then one column per (value,
            # agg) in list order, so toDF can never touch an id column
            # (withColumnRenamed renamed BOTH 'g's when a discovered
            # value collided with an id column, clobbering the id).
            # A value name colliding with an id (or an earlier value)
            # dedups with DuckDB's _1/_2 suffix rule. COUNT cells over
            # zero rows coalesce to 0 by the FINAL unique name (the
            # engines evaluate the aggregate per cell; fuzzer r7 s4) —
            # the name-membership guards this replaces silently
            # skipped repr-divergent names (ADVICE r10 #1).
            taken = {c.lower() for c in ids}
            vnames, vcount = [], []
            for v in values:
                for ai, al in enumerate(per_value):
                    nm = _pivot_value_name(v) + (f"_{al}" if al else "")
                    nm0, k = nm, 1
                    while nm.lower() in taken:
                        nm = f"{nm0}_{k}"
                        k += 1
                    taken.add(nm.lower())
                    vnames.append(nm)
                    vcount.append(ai in count_idx)
            out = out.toDF(*ids, *vnames)
            for nm, isc in zip(vnames, vcount):
                if isc:
                    out = out.withColumn(
                        nm, F.coalesce(F.col(f"`{nm}`"), F.lit(0)))
            return out

        from .plans.nodes import TableSample
        if isinstance(p, TableSample):
            # r11 (VERDICT r10 Next #6): deterministic hash-Bernoulli.
            # r12 rework (ADVICE r11 #3 + VERDICT r11 Next #4): the key
            # is now UNAMBIGUOUS — every column renders through its own
            # md5 (fixed 32-hex width), NULL renders the sentinel 'N'
            # (not a hex character), and the seed terminates with '|',
            # so no value content or NULL placement can make two
            # distinct rows render identically (the old concat_ws key
            # co-sampled ('a|b','c') with ('a','b|c') and ('a',NULL)
            # with (NULL,'a')). Threshold granularity rises 2-hex ->
            # 4-hex (1/65536): sub-0.2% rates — exactly what a 100 TB
            # corpus invites — stay non-degenerate, and a rate below
            # the granularity refuses loudly instead of silently
            # returning nothing. Still a NARROW filter on the scan —
            # no shuffle, no RNG state, layout-independent.
            df = self._c(p.input)
            idx = round(p.pct / 100.0 * 65536)
            if idx >= 65536:
                return df            # p ~ 100%: whole relation
            if idx <= 0:
                if p.pct == 0:
                    return df.filter(F.lit(False))
                raise ValueError(
                    f"TABLESAMPLE rate {p.pct}% is below the 1/65536 "
                    f"hash granularity (~0.0015%) — the sample would "
                    f"be silently empty; use a rate >= 0.002% or an "
                    f"explicit hash filter")
            bound = format(idx, "04x")
            key = F.concat(
                F.lit(f"{p.seed}|"),
                *[F.coalesce(F.md5(F.col(f"`{c}`").cast("string")),
                             F.lit("N")) for c in df.columns])
            return df.filter(F.substring(F.md5(key), 1, 4) < bound)

        raise ValueError(f"cannot compile plan node {type(p).__name__}")

    # ------------------------------------------------------------------
    def _compile_multikey_pivot(self, p, df, agg_list, agg_refs):
        """Multi-key simplified PIVOT (`PIVOT rel ON a, b USING ...`,
        r11, VERDICT r10 Next #5). DuckDB's rule, verified empirically:
        each key's distinct values discover INDEPENDENTLY and CROSS —
        one output column per combination, observed or not — named
        `{va}_{vb}[_{alias}]`, first key major, each key ascending.
        Rows MATCH on a unit-separator concat of the cast-string keys
        (tuple-exact — a value containing '_' cannot alias another
        combination; the '_'-joined DuckDB names stay cosmetic), then
        rename to the display names, refusing loudly on any final-name
        collision (with each other or with an id column). 100 TB: one
        bounded DISTINCT pre-query per key (driver holds <= cap scalar
        values, never rows) + the same single pivot shuffle as the
        one-key form."""
        import itertools

        from .expressions import Alias as _AliasX
        US = "\x1f"
        keys = list(p.pivot_cols)
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"PIVOT ON columns not found: {missing}")
        ids = [c for c in df.columns
               if c not in set(keys) and c not in agg_refs]
        cap = self.pivot_max_values
        per_key_renders = []
        for k in keys:
            # r12 (VERDICT r11 wrong #2): the match values must be
            # rendered by Spark ITSELF, typed as the key column — the
            # match column below is cast("string"), so a Python str()
            # render diverging from Spark's (DOUBLE 1e20 -> '1e+20'
            # vs '1.0E20') made the pivot cell silently all-NULL.
            # r13 (optimization round, guide §2.4): the render is the
            # SAME cast the pre-query can evaluate on the executors —
            # selecting it alongside the typed value folds the former
            # second job (a driver-local createDataFrame + collect
            # per key) into the one bounded DISTINCT pre-query. The
            # cast is a pure function of the key, so the (value,
            # render) pairs have exactly the key's cardinality and
            # the cap/NULL/separator checks see identical inputs.
            # Documented float edge (ADVICE r13): a FLOAT/DOUBLE key
            # holding both -0.0 and 0.0 yields TWO (value, render)
            # rows ('-0.0'/'0.0') where the pre-r13 form collapsed
            # them into one column that silently dropped the -0.0
            # rows; the two-column behavior is the faithful one (each
            # render matches its own rows through the string-cast
            # match column), so it stands.
            rows = (df.select(F.col(f"`{k}`").alias("v"),
                              F.col(f"`{k}`").cast("string").alias("r"))
                    .distinct().orderBy("v").limit(cap + 1).collect())
            vals = [r["v"] for r in rows]
            if len(vals) > cap:
                raise ValueError(
                    f"PIVOT key '{k}' has more than {cap} distinct "
                    f"values — spell the combination columns "
                    f"explicitly or raise pivot_max_values")
            if any(v is None for v in vals):
                raise NotImplementedError(
                    f"multi-key PIVOT over key '{k}' containing NULL: "
                    f"engines disagree on NULL-key handling — filter "
                    f"the NULLs out first")
            rendered = [r["r"] for r in rows]
            if any(r is None for r in rendered):
                raise ValueError(
                    f"PIVOT key '{k}' has a value Spark cannot render "
                    f"as a string — cast the key column explicitly")
            if any(US in r for r in rendered):
                raise ValueError(
                    f"PIVOT key '{k}' value contains the reserved "
                    f"tuple separator U+001F")
            per_key_renders.append(rendered)
        combos = list(itertools.product(*per_key_renders))
        if len(combos) > cap:
            raise ValueError(
                f"multi-key PIVOT crosses to {len(combos)} columns, "
                f"more than the {cap} cap — an implicit pivot this "
                f"wide is almost certainly a mistake")
        match_vals = [US.join(c) for c in combos]
        disp = ["_".join(c) for c in combos]
        aliases = ([a.name for a in agg_list]
                   if p.aggs is not None
                   else [p.agg.name] if isinstance(p.agg, _AliasX)
                   else [None])
        final = [d if al is None else f"{d}_{al}"
                 for d in disp for al in aliases]
        clashes = {n for n in final
                   if final.count(n) > 1 or n in set(ids)}
        if clashes:
            raise ValueError(
                f"multi-key PIVOT output names collide: "
                f"{sorted(clashes)} — rename the inputs or alias the "
                f"aggregates apart")
        pk = "__pivot_key"
        dfx = df.withColumn(pk, F.concat_ws(
            US, *[F.col(f"`{k}`").cast("string") for k in keys]))
        gp = dfx.groupBy(*[f"`{c}`" for c in ids]).pivot(pk, match_vals)
        if p.aggs is not None:
            out = gp.agg(*[a.to_spark() for a in agg_list])
        else:
            out = gp.agg((p.agg.expr if isinstance(p.agg, _AliasX)
                          else p.agg).to_spark())
        # COUNT cells over zero rows are 0, not NULL (same engine rule
        # as the single-key arm), keyed by the PRE-rename names
        count_aliases = []
        if p.aggs is not None:
            count_aliases = [
                a.name for a in agg_list
                if getattr(a.expr, "name", "").lower() == "count"]
        base_agg = (p.agg.expr if isinstance(p.agg, _AliasX) else p.agg)
        single_is_count = (p.aggs is None
                           and getattr(base_agg, "name", ""
                                       ).lower() == "count")
        for mv in match_vals:
            if single_is_count and mv in out.columns:
                out = out.withColumn(
                    mv, F.coalesce(F.col(f"`{mv}`"), F.lit(0)))
            for al in count_aliases:
                c = f"{mv}_{al}"
                if c in out.columns:
                    out = out.withColumn(
                        c, F.coalesce(F.col(f"`{c}`"), F.lit(0)))
        # rename US-joined match names -> '_'-joined display names
        # (+ alias suffix), in one select to keep the plan narrow
        sel = [F.col(f"`{c}`") for c in ids]
        for mv, d in zip(match_vals, disp):
            if p.aggs is not None:
                for al in aliases:
                    sel.append(F.col(f"`{mv}_{al}`").alias(f"{d}_{al}"))
            elif aliases[0] is not None:
                sel.append(F.col(f"`{mv}`").alias(f"{d}_{aliases[0]}"))
            else:
                sel.append(F.col(f"`{mv}`").alias(d))
        return out.select(*sel)

    # ------------------------------------------------------------------
    def _pin_static_leaves(self, plan: Plan,
                           pin_static_subtrees: bool = False) -> None:
        """Compile every RemoteQueryNode under `plan` once and register
        the (lazily checkpointed) result for reuse: an iterative compile
        re-walks the same plan objects each round, and RemoteQueryNode
        executes its remote SQL at compile time — without pinning, a
        federated dimension inside a recursive step would be re-fetched
        up to max_iterations times (review r7 s3 findings #7/#8).
        Cleared with the other per-compile caches in compile().

        ``pin_static_subtrees`` additionally checkpoints maximal
        RecursiveRef-free COMPUTE subtrees — only the recursive-CTE
        caller sets it (r10, ADVICE r9 #2): the lateral arms compile
        their body exactly once, so checkpointing a single-use joined
        frame to executor disk would be pure cost with zero reuse."""
        from .plans.nodes import (
            Aggregate, Distinct, Join, RecursiveRef, SetOp, Union,
            Window, walk_plan)
        for n in walk_plan(plan):
            if isinstance(n, RemoteQueryNode) \
                    and id(n) not in self._static_reuse:
                self._static_reuse[id(n)] = \
                    self._c(n).localCheckpoint(eager=False)

        # r9 (VERDICT r8 Next #1): pin maximal RecursiveRef-FREE
        # subtrees too — a static CTE inside the step (q88's `edges`,
        # a union of three projections over customer) would otherwise
        # re-plan AND re-execute every round, up to max_iterations
        # times. Pin only subtrees containing real compute (join/
        # union/aggregate/distinct/window/set-op): those amortize one
        # lazy materialization against N re-executions. A bare
        # Scan/Filter/Project chain stays unpinned — re-scanning it is
        # pushdown-friendly and cheap, while checkpointing it would
        # copy a possibly-100TB table to executor disks for zero
        # compute savings. (Measured: q88 per-round edges re-scan was
        # ~half the fixpoint's wall time at sf0.1.)
        if not pin_static_subtrees:
            return

        def _has_ref(n) -> bool:
            return any(isinstance(x, RecursiveRef) for x in walk_plan(n))

        def _worth(n) -> bool:
            return any(isinstance(x, (Aggregate, Distinct, Join, SetOp,
                                      Union, Window))
                       for x in walk_plan(n))

        def _go(n) -> None:
            if not _has_ref(n):
                if _worth(n) and id(n) not in self._static_reuse:
                    self._static_reuse[id(n)] = \
                        self._c(n).localCheckpoint(eager=False)
                return
            for k in n.inputs():
                _go(k)

        _go(plan)

    # ------------------------------------------------------------------
    def _theta_bnl_gate(self, df: DataFrame, what: str,
                        key_node=None) -> DataFrame:
        """Size gate for PURE-theta correlation (r10, VERDICT r9 Next
        #4 — graduated from an unconditional refusal). With no equality
        conjunct the only faithful rewrite is a nested-loop join, which
        is exact and scale-safe ONLY when the inner side is provably
        small (Postgres runs these shapes the same way: its executor
        rescans a materialized inner per outer row). Proof = one
        bounded probe job: limit(gate+1).count() stops the scan at
        gate+1 rows, so the probe costs O(gate) rows even against a
        100 TB inner (same probe class as the runtime-filter min/max
        at compiler.py _runtime_filter sites). At or below the gate the
        frame comes back broadcast-hinted — Catalyst plans the theta
        join as BroadcastNestedLoopJoin, O(outer x gate) with no
        shuffle of the outer side. Above it: the refusal, now naming
        the gate."""
        gate = self.theta_bnl_rows
        # r11 (VERDICT r10 Next #7): memoize the probe VERDICT per
        # structural plan — a subquery body appearing twice in one
        # statement (or recompiled across engine.sql calls on the same
        # registered tables) must not pay a second probe job. Keyed on
        # the source node's dataclass repr (structural; registered
        # table handles repr stably within a session); only the
        # boolean verdict caches — each call site re-wraps ITS OWN
        # frame, so no DataFrame crosses between compiles.
        # the verdict depends on the gate VALUE too — tests (and
        # callers) lower theta_bnl_rows mid-session, and a verdict
        # cached at gate 10k must not answer for gate 10
        key = ((gate, repr(key_node)) if key_node is not None
               else None)
        verdict = self._bnl_gate_cache.get(key) if key else None
        if verdict is None and self._plan_only:
            # plain explain: remote leaves are empty frames, so a probe
            # would prove nothing — plan the broadcast, memoize nothing
            # (a later real compile of this body must still probe)
            return F.broadcast(df)
        if verdict is None:
            self._bnl_probe_count += 1
            verdict = df.limit(gate + 1).count() <= gate
            if key is not None:
                self._bnl_gate_cache[key] = verdict
        if verdict:
            return F.broadcast(df)
        raise NotImplementedError(
            f"{what} with ONLY non-equality correlation compiles as a "
            f"broadcast nested loop only when the inner side is "
            f"provably small (<= {gate} rows; this one is not) — add "
            f"an equality conjunct")

    # ------------------------------------------------------------------
    @staticmethod
    def _fixpoint_bcast_cap(schema, round_idx: int) -> int:
        """Row-count cap for the fixpoint delta's broadcast hint,
        width-aware (r10, ADVICE r9 #3: a pure row-count gate can force
        a multi-GB broadcast when SEARCH/CYCLE path arrays grow one
        element per round). Fixed-width schemas keep the 1M-row cap
        (~tens of MB). Schemas with array/map columns start at 100k and
        decay linearly with the round index — path length grows
        linearly in rounds, so the decay holds the estimated broadcast
        bytes roughly constant — with a 5k floor (a 5k-row frontier
        broadcasts safely at any realistic path depth)."""
        from pyspark.sql.types import ArrayType, MapType
        if any(isinstance(f.dataType, (ArrayType, MapType))
               for f in schema.fields):
            return max(5_000, 100_000 // (1 + round_idx))
        return 1_000_000

    # ------------------------------------------------------------------
    def _compile_recursive(self, p: RecursiveCTE) -> DataFrame:
        """WITH RECURSIVE fixpoint (Postgres/DuckDB semantics; the
        reference inherits this from DataFusion's SQL layer — Spark has
        no native form, so the driver loop lives here).

        Iteration protocol: the working table starts as the
        non-recursive term; each round compiles the recursive term with
        the RecursiveRef bound to the PREVIOUS round's delta only. For
        UNION (distinct) the round's raw output is deduped AND
        subtracted against everything seen in ONE fused aggregate
        (r9): union(step tagged 1, seen tagged 0) -> groupBy(columns)
        -> keep min(tag)=1. GROUP BY compares NULLs as equal — exactly
        EXCEPT DISTINCT's set semantics, where an anti-join's ``=``
        would leak NULL-keyed duplicates — and that is what makes
        cyclic graphs terminate: once a round produces no unseen rows
        the fixpoint is reached. With ``dedup_cols`` set (UNION-
        distinct SEARCH/CYCLE), the group key narrows to the user
        columns and min(struct(appended)) picks the within-round
        representative.

        Scale posture: each round runs as ONE constant-shape job — the
        fused groupBy output is lazily checkpointed, its sum(tag) is
        the loop-control count, and the SAME output serves as the next
        round's seen frame (2 checkpointed leaves per round, not a
        union growing one leaf per round) and, filtered to tag=1, as
        the delta. Checkpointing keeps the logical plan of round N
        referencing materialized partitions, not N nested step copies
        — the d51/d68 PageRank plan-doubling lesson. The delta is
        broadcast-hinted below 1M rows (exact count in hand), so the
        step's join against a 100 TB fact side never shuffles the fact
        for a tiny frontier; RecursiveRef-free compute subtrees inside
        the step are pinned once (_pin_static_leaves) instead of
        re-executing per round. The final accumulator is a lazy union
        of the per-round checkpointed deltas: linear plan depth in
        rounds. Driver-side state is one row count per round; rows
        never leave the executors.

        ``max_iterations`` (default 100) bounds runaway UNION ALL
        recursions over cyclic inputs — same guard class as the
        engines' recursion depth limits."""
        self.fixpoint_runs += 1
        self._pin_static_leaves(p.step, pin_static_subtrees=True)
        base = self._c(p.base)
        if p.cols is not None:
            if len(p.cols) != len(base.columns):
                raise ValueError(
                    f"recursive CTE '{p.name}' declares "
                    f"{len(p.cols)} columns but its non-recursive term "
                    f"produces {len(base.columns)}")
            base = base.toDF(*p.cols)
        # UNION-distinct SEARCH/CYCLE (r9): dedup on the USER columns
        # only; the appended seq/mark/path columns ride along, resolved
        # first-seen (within a round: minimal appended tuple — struct
        # ordering prefers unmarked rows, then the lexicographically
        # smallest path).
        dd = (list(p.dedup_cols) if p.dedup_cols is not None
              and not p.union_all else None)
        extras = ([c for c in base.columns if c not in set(dd)]
                  if dd is not None else [])
        if dd is not None and not extras:
            dd = None                     # degenerate: plain distinct
        orig_cols = list(base.columns)
        # collision-safe helper names for the fused dedupe+subtract
        tag = "__df_round_tag"
        while tag in base.columns:
            tag += "_"
        xcol = "__df_extras"
        while xcol in base.columns:
            xcol += "_"

        def _firstseen(df):
            """Dedup on the user columns, representative = minimal
            appended tuple (deterministic; documented above)."""
            g = df.groupBy(*dd).agg(
                F.min(F.struct(*extras)).alias(xcol))
            return g.select(*[
                F.col(c) if c in set(dd)
                else F.col(f"{xcol}.{c}").alias(c)
                for c in orig_cols])

        if not p.union_all:
            # distinct mode re-reads the accumulator (base included)
            # every round's subtract — checkpoint it. Lazy: the first
            # round's subtract materializes it as a side effect, saving
            # a dedicated up-front job (r8; VERDICT r7 wrong #2). UNION
            # ALL references base exactly once (the final result), so
            # checkpointing there would materialize a possibly-large
            # frame for zero reuse.
            base = (_firstseen(base) if dd is not None
                    else base.dropDuplicates())
            base = base.localCheckpoint(eager=False)
        acc = base
        work = base
        seen = base            # distinct mode: all user tuples so far
        key = p.name.lower()
        prev = self._recursive_work.get(key)
        try:
            for it in range(p.max_iterations):
                self._recursive_work[key] = work
                step = self._c(p.step)
                if len(step.columns) != len(acc.columns):
                    raise ValueError(
                        f"recursive CTE '{p.name}': recursive term "
                        f"produces {len(step.columns)} columns, "
                        f"expected {len(acc.columns)}")
                step = step.toDF(*acc.columns)
                if not p.union_all:
                    # Fused dedupe+subtract (VERDICT r8 Next #1): ONE
                    # aggregate replaces subtract's distinct+anti-join
                    # pair (two exchanges -> one per round). Union the
                    # round's raw output (tag 1) with the seen set
                    # (tag 0) and keep each value-tuple iff it NEVER
                    # appears with the seen tag: min(tag)=1 means "new
                    # this round". GROUP BY compares NULLs as equal —
                    # exactly EXCEPT DISTINCT's set semantics — and the
                    # groupBy output IS the deduped delta, so the old
                    # left-side distinct comes for free. Two further
                    # fusions keep the round at ONE constant-shape job:
                    # the groupBy output is ALSO the next round's seen
                    # set (its groups are exactly all tuples seen so
                    # far), so the per-round plan reads 2 checkpointed
                    # frames instead of a union growing by one leaf per
                    # round; and the new-row count is sum(tag) over the
                    # same checkpointed output — no separate count job
                    # over a second frame.
                    merged = (step.withColumn(tag, F.lit(1))
                              .union(seen.withColumn(tag, F.lit(0))))
                    if dd is not None:
                        # dedup key = user columns only; for a group
                        # whose min(tag)=1 (new this round),
                        # min(struct(extras)) ranges over the round's
                        # own rows only (no tag-0 member), so the
                        # representative is the within-round minimal
                        # appended tuple. A tag-0 group's stored extras
                        # may drift toward later-round candidates —
                        # harmless: they are filtered from every delta
                        # and surface nowhere (the result reads each
                        # round's tag-1 rows from that round's own
                        # checkpoint).
                        g = (merged.groupBy(*dd)
                             .agg(F.min(tag).alias(tag),
                                  F.min(F.struct(*extras)).alias(xcol))
                             .localCheckpoint(eager=False))

                        def unpack(df):
                            return df.select(*[
                                F.col(c) if c in set(dd)
                                else F.col(f"{xcol}.{c}").alias(c)
                                for c in orig_cols])
                        n_new = g.agg(F.sum(tag)).first()[0] or 0
                        step = unpack(g.filter(F.col(tag) == 1))
                        seen = unpack(g)
                    else:
                        g = (merged.groupBy(*orig_cols)
                             .agg(F.min(tag).alias(tag))
                             .localCheckpoint(eager=False))
                        n_new = g.agg(F.sum(tag)).first()[0] or 0
                        step = g.filter(F.col(tag) == 1).drop(tag)
                        seen = g.drop(tag)
                else:
                    # UNION ALL: lazy checkpoint + count = ONE job per
                    # round (count is the materializing action; later
                    # readers hit the checkpointed blocks) instead of
                    # the eager-checkpoint job PLUS a count job (r8;
                    # VERDICT r7 wrong #2 — q88's cost is fixpoint
                    # scheduling, not data volume). Plan linearity is
                    # unchanged: round N still references materialized
                    # partitions, not N nested step copies.
                    step = step.localCheckpoint(eager=False)
                    n_new = step.count()
                if n_new == 0:
                    break
                acc = acc.union(step)
                work = step
                if p.cycle_col is not None:
                    # CYCLE clause (SQL:1999): cycle-marked rows appear
                    # in the result but never recurse — this is what
                    # terminates UNION ALL over a cyclic graph. A round
                    # whose rows are ALL marked leaves an empty working
                    # table; the next step yields 0 and the loop exits.
                    # The mark's "detected" value is True for the
                    # boolean form or the user's TO constant (r9); the
                    # mark is never NULL, so the null-safe negation
                    # keeps exactly the unmarked rows.
                    work = work.filter(
                        ~F.col(p.cycle_col).eqNullSafe(
                            F.lit(p.cycle_mark_value)))
                if n_new <= self._fixpoint_bcast_cap(work.schema, it):
                    # the next round binds the working table into the
                    # step's join: a delta this small (row count is
                    # EXACT — we just counted the checkpoint) should
                    # broadcast, not shuffle a 100 TB fact side. AQE
                    # cannot always see through the checkpointed scan's
                    # stats, so hint it explicitly; above the threshold
                    # let Catalyst/AQE plan the shuffle. The cap is
                    # width-aware (r10, ADVICE r9 #3): row count alone
                    # under-prices SEARCH/CYCLE working tables whose
                    # path arrays grow one element per round.
                    work = F.broadcast(work)
            else:
                raise RuntimeError(
                    f"recursive CTE '{p.name}' did not converge within "
                    f"{p.max_iterations} iterations (cyclic UNION ALL "
                    f"recursion, or raise max_iterations)")
        finally:
            if prev is None:
                self._recursive_work.pop(key, None)
            else:
                self._recursive_work[key] = prev
        return acc

    # ------------------------------------------------------------------
    def _compile_lateral(self, p) -> DataFrame:
        """LATERAL decorrelation. Engines evaluate the lateral subquery
        once per outer row; re-expressing that literally (a Python loop
        over collect()) would be the opposite of distributed — instead
        each supported shape rewrites to a set-level plan:

        - plain Filter/Project body        -> equi/theta JOIN
        - ungrouped Aggregate body         -> grouped agg keyed by the
          correlation columns, LEFT-joined to the DISTINCT outer keys so
          empty groups surface (COUNT coalesced to 0 — the engines'
          exactly-one-row-per-outer-row contract), then joined back
        - ORDER BY + LIMIT k body          -> row_number() OVER
          (PARTITION BY correlation keys ORDER BY sort keys) <= k, then
          JOIN (the top-k-per-key pattern)

        Anything else refuses loudly (the repo's semantic-refusal
        posture): NotImplementedError, never an approximation. 100 TB:
        every rewrite is one keyed shuffle + a join Catalyst plans
        normally; the top-k window partitions by the correlation key, so
        skew follows the key distribution like any groupBy."""
        from .expressions import BinaryOp, Col as ColE, Lit, OuterRef, walk

        left_df = self._c(p.left)
        on_expr = p.condition
        if isinstance(on_expr, Lit) and on_expr.value is True:
            on_expr = None

        core = p.right
        alias = None
        if isinstance(core, SubqueryAlias):
            alias, core = core.alias, core.input

        def _unwrap_restore(n):
            # sqlfront._sort_with_hidden wraps ORDER-BY-hidden-column
            # bodies as Project(Sort(widened)); the lateral rewrite
            # owns hidden sort columns itself, and the join's final
            # output list comes from p.right (unchanged), so unwrap to
            # the Sort and let the re-widening below see the raw shape
            if (isinstance(n, Project) and isinstance(n.input, Sort)
                    and all(isinstance(e, ColE)
                            for e in n.projections)):
                return n.input
            return n

        limit = sort = None
        node = _unwrap_restore(core)
        if isinstance(node, Limit):
            limit, node = node, _unwrap_restore(node.input)
            if not isinstance(node, Sort):
                raise NotImplementedError(
                    "LATERAL ... LIMIT without ORDER BY is "
                    "nondeterministic — refused")
            sort, node = node, node.input
        elif isinstance(node, Sort):
            # ORDER BY with no LIMIT in a lateral body: the rows feed a
            # join, so the order carries no semantics — drop it (the
            # engines do the same)
            core = node.input

        def _is_outer_expr(e):
            """True when `e` references ONLY outer columns (no inner
            Col, no subqueries): it can be evaluated on the LEFT side
            verbatim, which is what makes `inner_col = f(outer.col)`
            correlation decorrelatable (r9 — the composed fuzzer's
            first run hit the bare-OuterRef-only refusal on
            `n_regionkey = t.k % 5`)."""
            from .expressions import Exists, InSubquery, ScalarSubquery
            ns = list(walk(e))
            return (any(isinstance(x, OuterRef) for x in ns)
                    and not any(isinstance(x, ColE) for x in ns)
                    and not any(isinstance(
                        x, (Exists, InSubquery, ScalarSubquery))
                        for x in ns))

        def split_conds(conds):
            """Correlated conjuncts -> (inner Col, outer-side expr)
            equi pairs; the outer side may be a bare OuterRef or any
            expression over outer columns only. None when any conjunct
            is not such an equality."""
            pairs = []
            for c in conds:
                if isinstance(c, BinaryOp) and c.op == "=":
                    a, b = c.left, c.right
                    if isinstance(a, ColE) and _is_outer_expr(b):
                        pairs.append((a, b))
                        continue
                    if isinstance(b, ColE) and _is_outer_expr(a):
                        pairs.append((b, a))
                        continue
                return None
            return pairs

        def _outer_expr_col(e):
            """Spark column for an outer-side expression: resolve every
            OuterRef against the left frame, leave the rest to the
            ordinary expression compiler."""
            from .expressions import SparkCol

            def repl(x):
                if isinstance(x, OuterRef):
                    return SparkCol(
                        _resolve_outer(left_df, x, p.left), x.name)
                return x
            return _rewrite_expr(e, repl).to_spark()

        # grouped lateral body (r9, graduated from a refusal): SELECT
        # over GROUP BY inside LATERAL returns one row PER GROUP per
        # outer row. The parser wraps order-shuffled select lists as a
        # restoring Project of plain Cols over the Aggregate — unwrap.
        g_core = core
        if (isinstance(g_core, Project)
                and isinstance(g_core.input, Aggregate)
                and all(isinstance(e, ColE)
                        for e in g_core.projections)):
            g_core = g_core.input
        if isinstance(g_core, Aggregate) and g_core.group_by:
            if on_expr is not None:
                raise NotImplementedError(
                    "LATERAL aggregate supports only ON TRUE")
            return self._lateral_grouped_agg(
                p, g_core, left_df, alias, _outer_expr_col,
                _is_outer_expr)

        if isinstance(core, Aggregate):
            agg = core
            if on_expr is not None:
                raise NotImplementedError(
                    "LATERAL aggregate supports only ON TRUE")
            conds, cleaned_in = _extract_correlated(agg.input)
            self._pin_static_leaves(cleaned_in)
            # classify: equality (inner_col = f(outer)) pairs vs theta
            # residue (any other correlated conjunct — inequalities,
            # expressions on both sides). r9: theta residue no longer
            # refuses when at least one equality key bounds the join.
            pairs, theta = [], []
            for c0 in conds:
                if isinstance(c0, BinaryOp) and c0.op == "=":
                    a0, b0 = c0.left, c0.right
                    if isinstance(a0, ColE) and _is_outer_expr(b0):
                        pairs.append((a0, b0))
                        continue
                    if isinstance(b0, ColE) and _is_outer_expr(a0):
                        pairs.append((b0, a0))
                        continue
                theta.append(c0)
            if not pairs and not theta:
                # uncorrelated: a global 1-row aggregate, same for every
                # outer row — plain (broadcast-sized) cross join
                agg_df = self._c(agg)
                if alias:
                    agg_df = agg_df.alias(alias)
                return left_df.crossJoin(agg_df)
            if theta:
                # r10: pure theta (no equality pair) no longer refuses
                # unconditionally — _lateral_theta_agg applies the
                # size-gated broadcast-nested-loop path when the inner
                # side proves small, and refuses above the gate
                return self._lateral_theta_agg(
                    p, agg, cleaned_in, pairs, theta, left_df, alias,
                    _outer_expr_col)
            inner_keys = [a for a, _ in pairs]
            widened = _widen_projects(cleaned_in,
                                      [k.name for k in inner_keys])
            agg_df = self._c(Aggregate(widened, list(inner_keys),
                                       list(agg.aggregates)))
            out_cols = [a.output_name() for a in agg.aggregates]
            # DISTINCT outer keys LEFT JOIN the grouped agg: empty
            # groups get their one row (count -> 0) BEFORE the join
            # back, so the per-outer-row contract holds under every
            # join type the parser admits here
            okeys = [_outer_expr_col(r).alias(f"__lat_k{i}")
                     for i, (_, r) in enumerate(pairs)]
            keyed = left_df.select(*okeys).dropDuplicates()
            # plain equality here: a NULL outer key must NOT match inner
            # rows (SQL `inner = NULL` never holds), it just keeps its
            # empty-group row via the LEFT join
            jc = None
            for i, (a, _) in enumerate(pairs):
                c = keyed[f"__lat_k{i}"] == agg_df[a.name]
                jc = c if jc is None else (jc & c)
            # engines return the aggregate row even for outer rows with
            # ZERO matching inner rows — compute those empty-group
            # values by evaluating the SAME aggregate expressions over
            # a provably-empty input (count()->0, CAST(count())->0,
            # max()->NULL, count()+1->1 — any expression, exactly the
            # engines' semantics; a coalesce-to-0 patch would be wrong
            # for anything but a bare count). One 1-row collect at
            # compile: metadata-sized, like the q76/q79 dim loads.
            empty_df = self._c(Aggregate(Filter(cleaned_in, Lit(False)),
                                         [], list(agg.aggregates)))
            empty_row = empty_df.collect()[0]
            miss = agg_df[pairs[0][0].name].isNull()
            fixed = []
            for a, fld in zip(agg.aggregates, empty_df.schema.fields):
                name = a.output_name()
                col = F.when(miss, F.lit(empty_row[name])
                             .cast(fld.dataType)) \
                    .otherwise(agg_df[name])
                fixed.append(col.alias(name))
            right2 = (keyed.join(agg_df, on=jc, how="left")
                      .select(*[keyed[f"__lat_k{i}"]
                                for i in range(len(pairs))], *fixed))
            if alias:
                right2 = right2.alias(alias)
            # eqNullSafe on the join BACK: a NULL-keyed outer row still
            # owns its count=0 row (the engines evaluate the subquery
            # for every outer row, NULL keys included)
            jc2 = None
            for i, (_, r) in enumerate(pairs):
                c = _outer_expr_col(r).eqNullSafe(
                    right2[f"__lat_k{i}"])
                jc2 = c if jc2 is None else (jc2 & c)
            joined = left_df.join(right2, on=jc2, how="left")
            # project the helper key columns away so SELECT * sees
            # exactly left.* + the body's outputs (review r7 s3 finding
            # #3); attribute qualifiers survive the projection, so
            # alias-qualified parent refs (s.n) still resolve
            return joined.select(left_df["*"],
                                 *[right2[c] for c in out_cols])

        # simple and top-k arms share the correlated-join skeleton
        inner_plan = sort.input if sort is not None else core
        conds, cleaned = _extract_correlated(inner_plan)
        need = [x.name for c in conds for x in walk(c)
                if isinstance(x, ColE)]
        if sort is not None:
            # hidden sort columns: ORDER BY may reference columns the
            # subquery's projection drops (engines allow it) — carry
            # them through for the window; the parent projection prunes
            # them after the join
            need += [x.name for k in sort.keys for x in walk(k.expr)
                     if isinstance(x, ColE)]
        cleaned = _widen_projects(cleaned, need)
        right_df = self._c(cleaned)

        if limit is not None:
            pairs = split_conds(conds)
            if pairs is None:
                # r9: theta residue (inequalities alongside equality
                # keys) takes the join-then-window arm — the per-outer-
                # row filtered set changes the ranking, so the window
                # must partition by the OUTER tuple, not the inner key
                return self._lateral_theta_topk(
                    p, conds, cleaned, sort, limit, left_df, alias,
                    _outer_expr_col, _is_outer_expr, on_expr)
            from pyspark.sql import Window as W
            win = W.partitionBy(*[right_df[a.name] for a, _ in pairs]) \
                .orderBy(*[k.to_spark() for k in sort.keys])
            rn = F.row_number().over(win)
            lo = limit.skip or 0
            hi = lo + limit.fetch if limit.fetch is not None else None
            right_df = right_df.withColumn("__lat_rn", rn)
            flt = F.col("__lat_rn") > F.lit(lo)
            if hi is not None:
                flt = flt & (F.col("__lat_rn") <= F.lit(hi))
            right_df = right_df.filter(flt).drop("__lat_rn")

        if alias:
            right_df = right_df.alias(alias)
        jc = None
        for c in conds:
            cc = _corr_to_spark(c, left_df, right_df, p.left)
            jc = cc if jc is None else (jc & cc)
        if on_expr is not None:
            oc = on_expr.to_spark()
            jc = oc if jc is None else (jc & oc)
        how = {"cross": "inner", "inner": "inner", "left": "left"}[p.how]
        if jc is None:
            if how == "inner":
                joined = left_df.crossJoin(right_df)
            else:
                joined = left_df.join(right_df, on=F.lit(True), how=how)
        else:
            joined = left_df.join(right_df, on=jc, how=how)
        # drop the widened correlation-key / hidden-sort helper columns:
        # SELECT * must see exactly left.* + the body's declared outputs
        # (review r7 s3 finding #3). Unknown output lists (a star body)
        # keep the raw join — a star body legitimately exposes
        # everything, and the widen pass left it untouched.
        out_cols = _plan_output_cols(p.right)
        if out_cols is not None:
            return joined.select(left_df["*"],
                                 *[right_df[c] for c in out_cols])
        return joined

    def _lateral_theta_topk(self, p, conds, cleaned, sort, limit,
                            left_df, alias, outer_expr_col,
                            is_outer_expr, on_expr=None):
        """Theta-correlated LATERAL top-k (r9; graduated from the
        equality-only refusal). An inequality conjunct makes the
        ranked set per-outer-row, so the inner-key-partitioned window
        of the equality arm is wrong — instead: DISTINCT outer tuples
        (equality key exprs + theta outer refs) INNER-join the inner
        side on eq keys + theta residue, row_number partitions by the
        OUTER tuple, rows outside (skip, skip+fetch] drop, and the
        ranked rows join back null-safely (LEFT for LEFT JOIN LATERAL
        — unmatched outer rows null-extend; comma/CROSS drops them).
        With >= 1 equality pair the join hashes with theta as residual
        conditions; PURE theta (r10) takes the size-gated broadcast-
        nested-loop path. 100 TB: one keyed shuffle + one window over
        the outer-tuple partitioning (or a broadcast BNL bounded by
        the gate) — skew follows the outer key distribution like any
        top-k-per-key."""
        from pyspark.sql import Window as W

        from .expressions import (
            BinaryOp, Col as ColE, Exists, InSubquery, OuterRef,
            ScalarSubquery, SparkCol, walk as walk_expr)
        eq_pairs, theta = [], []
        for c0 in conds:
            if isinstance(c0, BinaryOp) and c0.op == "=":
                a0, b0 = c0.left, c0.right
                if isinstance(a0, ColE) and is_outer_expr(b0):
                    eq_pairs.append((a0, b0))
                    continue
                if isinstance(b0, ColE) and is_outer_expr(a0):
                    eq_pairs.append((b0, a0))
                    continue
            theta.append(c0)
        for c0 in theta:
            for x in walk_expr(c0):
                if isinstance(x, (Exists, InSubquery, ScalarSubquery)):
                    raise NotImplementedError(
                        "LATERAL correlation may not contain "
                        "subqueries")
        inner_df = self._c(cleaned)
        if not eq_pairs:
            # r10: pure theta — size-gated broadcast nested loop (the
            # window below partitions by the theta outer refs alone,
            # which IS the outer tuple the ranking depends on)
            inner_df = self._theta_bnl_gate(
                inner_df, "LATERAL ORDER BY/LIMIT", key_node=cleaned)
        theta_refs, seen = [], {}
        for c0 in theta:
            for x in walk_expr(c0):
                if isinstance(x, OuterRef) \
                        and x.name.lower() not in seen:
                    seen[x.name.lower()] = len(theta_refs)
                    theta_refs.append(x)
        k_names = [f"__lat_k{i}" for i in range(len(eq_pairs))]
        t_names = [f"__lat_t{j}" for j in range(len(theta_refs))]
        helpers = k_names + t_names
        okeys = ([outer_expr_col(r).alias(n)
                  for (_, r), n in zip(eq_pairs, k_names)] +
                 [outer_expr_col(x).alias(n)
                  for x, n in zip(theta_refs, t_names)])
        keyed = left_df.select(*okeys).dropDuplicates()
        jc = None
        for (a, _), n in zip(eq_pairs, k_names):
            c1 = keyed[n] == inner_df[a.name]
            jc = c1 if jc is None else jc & c1
        for c0 in theta:
            def repl(x):
                if isinstance(x, OuterRef):
                    return SparkCol(
                        keyed[t_names[seen[x.name.lower()]]], x.name)
                if isinstance(x, ColE):
                    return SparkCol(inner_df[x.name], x.name)
                return x
            c1 = _rewrite_expr(c0, repl).to_spark()
            jc = c1 if jc is None else jc & c1
        joined = keyed.join(inner_df, on=jc, how="inner")
        win = (W.partitionBy(*[keyed[n] for n in helpers])
               .orderBy(*[k.to_spark() for k in sort.keys]))
        lo = limit.skip or 0
        hi = lo + limit.fetch if limit.fetch is not None else None
        j2 = joined.withColumn("__lat_rn", F.row_number().over(win))
        flt = F.col("__lat_rn") > F.lit(lo)
        if hi is not None:
            flt = flt & (F.col("__lat_rn") <= F.lit(hi))
        right2 = j2.filter(flt).drop("__lat_rn")
        if alias:
            right2 = right2.alias(alias)
        how = {"cross": "inner", "inner": "inner", "left": "left"}[p.how]
        jc2 = None
        for (_, r), n in zip(eq_pairs, k_names):
            c1 = outer_expr_col(r).eqNullSafe(right2[n])
            jc2 = c1 if jc2 is None else jc2 & c1
        for x, n in zip(theta_refs, t_names):
            c1 = outer_expr_col(x).eqNullSafe(right2[n])
            jc2 = c1 if jc2 is None else jc2 & c1
        if on_expr is not None:
            # r10 (ADVICE high): a non-trivial ON predicate filters the
            # ranked rows AFTER ranking, exactly like the equality arm
            # — AND it into the join-back condition (LEFT JOIN LATERAL
            # null-extends when it fails; inner/comma drops the row)
            jc2 = jc2 & on_expr.to_spark()
        joined2 = left_df.join(right2, on=jc2, how=how)
        out_cols = _plan_output_cols(p.right)
        if out_cols is not None:
            return joined2.select(left_df["*"],
                                  *[right2[c] for c in out_cols])
        return joined2

    def _lateral_grouped_agg(self, p, agg, left_df, alias,
                             outer_expr_col, is_outer_expr):
        """LATERAL body with its own GROUP BY (r9; graduated from a
        refusal). Engines return one row per GROUP per outer row;
        set-level rewrite: group the inner side by (correlation keys +
        user group keys) ONCE, then join the outer rows to the grouped
        result on the correlation keys. No empty-group fixup exists
        here by design — a grouped aggregate over zero rows returns
        ZERO rows (not one), so unmatched outer rows simply drop under
        comma/CROSS lateral and null-extend under LEFT JOIN LATERAL,
        which the plain (non-null-safe) equality join gives for free
        (`inner = NULL` never matches, exactly the engines' behavior
        for NULL outer keys). 100 TB: one keyed shuffle for the
        grouped aggregate, then an ordinary equi-join Catalyst plans
        (broadcast when the grouped side is small)."""
        from .expressions import (
            BinaryOp, Col as ColE, walk as walk_expr)

        conds, cleaned_in = _extract_correlated(agg.input)
        self._pin_static_leaves(cleaned_in)
        pairs = []
        for c0 in conds:
            if isinstance(c0, BinaryOp) and c0.op == "=":
                a0, b0 = c0.left, c0.right
                if isinstance(a0, ColE) and is_outer_expr(b0):
                    pairs.append((a0, b0))
                    continue
                if isinstance(b0, ColE) and is_outer_expr(a0):
                    pairs.append((b0, a0))
                    continue
            raise NotImplementedError(
                "grouped LATERAL aggregate needs pure equality "
                "correlation (inner_col = <expr over outer columns>)")
        how = {"cross": "inner", "inner": "inner", "left": "left"}[p.how]
        if not pairs:
            # uncorrelated grouped body: same groups for every outer row
            body = self._c(p.right)
            if how == "inner":
                return left_df.crossJoin(body)
            return left_df.join(body, on=F.lit(True), how="left")
        inner_keys = [a for a, _ in pairs]
        ik_names = {k.name.lower() for k in inner_keys}
        extra_groups = [g for g in agg.group_by
                        if not (isinstance(g, ColE)
                                and g.name.lower() in ik_names)]
        need = [k.name for k in inner_keys] + \
               [x.name for g in agg.group_by for x in walk_expr(g)
                if isinstance(x, ColE)]
        widened = _widen_projects(cleaned_in, need)
        agg_df = self._c(Aggregate(widened,
                                   list(inner_keys) + extra_groups,
                                   list(agg.aggregates)))
        if alias:
            agg_df = agg_df.alias(alias)
        jc = None
        for (a, r) in pairs:
            c0 = outer_expr_col(r) == agg_df[a.name]
            jc = c0 if jc is None else jc & c0
        joined = left_df.join(agg_df, on=jc, how=how)
        out_cols = _plan_output_cols(p.right)
        if out_cols is not None:
            return joined.select(left_df["*"],
                                 *[agg_df[c] for c in out_cols])
        return joined

    def _lateral_theta_agg(self, p, agg, cleaned_in, pairs, theta,
                           left_df, alias, outer_expr_col):
        """Theta-correlated LATERAL aggregate (r9; graduated from a
        refusal the composed fuzzer hit on its first run:
        `WHERE n_regionkey = t.k % 5 AND n_nationkey > t.k`).

        The equality arm's inner-grouped aggregate cannot express a
        per-outer-row inequality, so this arm decorrelates with the
        textbook join-then-group rewrite, kept EXACT for any aggregate:

          keyed   = DISTINCT outer tuples (equality key exprs + every
                    outer ref inside the theta conjuncts)
          matched = keyed INNER JOIN inner ON eq-keys AND theta,
                    grouped by the keyed helper columns
          missing = keyed ANTI JOIN matched -> the SAME aggregates
                    evaluated over a provably-empty input (count -> 0,
                    max -> NULL, count()+1 -> 1 — exactly the engines'
                    empty-group semantics; the equality arm's trick)
          right2  = matched UNION missing, joined back null-safe

        INNER-join + union (not a left join + group) because count(*)
        over a null-extended row would count 1 where the engines say 0.
        A NULL outer operand makes every theta comparison UNKNOWN —
        the inner join drops it, the anti-join resurrects it with
        empty-group values, which is exactly `inner > NULL` never
        matching. With >= 1 equality pair the join stays a hash join
        with theta as residual conditions; PURE theta (r10) takes the
        size-gated broadcast-nested-loop path — exact when the inner
        side proves small, refused above the gate. 100 TB: one keyed
        shuffle on the equality keys (or a broadcast BNL bounded by
        the gate), the dedup'd outer-tuple frame is usually
        dim-sized."""
        from .expressions import (
            Col as ColE, Exists, InSubquery, Lit, OuterRef,
            ScalarSubquery, SparkCol, walk)
        for c in theta:
            for x in walk(c):
                if isinstance(x, (Exists, InSubquery, ScalarSubquery)):
                    raise NotImplementedError(
                        "LATERAL aggregate correlation may not "
                        "contain subqueries")
        inner_keys = [a for a, _ in pairs]
        need = [k.name for k in inner_keys] + \
               [x.name for c in theta for x in walk(c)
                if isinstance(x, ColE)]
        widened = _widen_projects(cleaned_in, need)
        inner_df = self._c(widened)
        if not pairs:
            inner_df = self._theta_bnl_gate(
                inner_df, "LATERAL aggregate", key_node=widened)
        theta_refs, seen = [], {}
        for c in theta:
            for x in walk(c):
                if isinstance(x, OuterRef) \
                        and x.name.lower() not in seen:
                    seen[x.name.lower()] = len(theta_refs)
                    theta_refs.append(x)
        k_names = [f"__lat_k{i}" for i in range(len(pairs))]
        t_names = [f"__lat_t{j}" for j in range(len(theta_refs))]
        helpers = k_names + t_names
        okeys = ([outer_expr_col(r).alias(n)
                  for (_, r), n in zip(pairs, k_names)] +
                 [outer_expr_col(x).alias(n)
                  for x, n in zip(theta_refs, t_names)])
        keyed = left_df.select(*okeys).dropDuplicates()
        jc = None
        for (a, _), n in zip(pairs, k_names):
            c0 = keyed[n] == inner_df[a.name]
            jc = c0 if jc is None else jc & c0
        for c in theta:
            def repl(x):
                if isinstance(x, OuterRef):
                    return SparkCol(
                        keyed[t_names[seen[x.name.lower()]]], x.name)
                if isinstance(x, ColE):
                    return SparkCol(inner_df[x.name], x.name)
                return x
            c1 = _rewrite_expr(c, repl).to_spark()
            jc = c1 if jc is None else jc & c1
        out_cols = [a.output_name() for a in agg.aggregates]
        matched = (keyed.join(inner_df, on=jc, how="inner")
                   .groupBy(*[keyed[n] for n in helpers])
                   .agg(*[a.to_spark() for a in agg.aggregates]))
        empty_df = self._c(Aggregate(Filter(cleaned_in, Lit(False)),
                                     [], list(agg.aggregates)))
        empty_row = empty_df.collect()[0]
        anti = None
        for n in helpers:
            c0 = keyed[n].eqNullSafe(matched[n])
            anti = c0 if anti is None else anti & c0
        missing = keyed.join(matched, on=anti, how="left_anti")
        miss_vals = missing.select(
            *[missing[n] for n in helpers],
            *[F.lit(empty_row[a.output_name()]).cast(fld.dataType)
              .alias(a.output_name())
              for a, fld in zip(agg.aggregates, empty_df.schema.fields)])
        right2 = matched.select(*helpers, *out_cols).union(miss_vals)
        if alias:
            right2 = right2.alias(alias)
        jc2 = None
        for (_, r), n in zip(pairs, k_names):
            c0 = outer_expr_col(r).eqNullSafe(right2[n])
            jc2 = c0 if jc2 is None else jc2 & c0
        for x, n in zip(theta_refs, t_names):
            c0 = outer_expr_col(x).eqNullSafe(right2[n])
            jc2 = c0 if jc2 is None else jc2 & c0
        joined = left_df.join(right2, on=jc2, how="left")
        return joined.select(left_df["*"],
                             *[right2[c] for c in out_cols])

    # ------------------------------------------------------------------
    def _compile_asof(self, p: AsofJoin):
        """Local arm of ASOF JOIN: analyze the ON condition into key
        equalities + exactly one timestamp inequality, then delegate to
        operators/temporal.asof_join (union + one keyed window — no
        join node). Refusals are loud NotImplementedErrors, matching
        the repo's other semantic refusals: a shape we cannot compile
        faithfully must never compile approximately.

        Output naming: left columns keep their names (and the left
        relation's alias, so qualified refs keep resolving); right-side
        carried columns arrive under the operator's suffix rules — the
        right timestamp is always ``<ts>_right``. The federated arm
        (DuckDB renders native ASOF) is schema-aligned by the engine's
        expected-schema cast like every remote plan."""
        from .expressions import BinaryOp
        from .federation import _visible_aliases
        from .operators.temporal import asof_join

        def aliases(side):
            # a per-table federated child arrives as a RemoteQueryNode
            # LEAF — its qualifier lives on the claimed sub-plan
            if isinstance(side, RemoteQueryNode):
                return aliases(side.plan)
            return _visible_aliases(side)

        left_al = aliases(p.left)
        right_al = aliases(p.right)

        def conjuncts(e):
            if isinstance(e, BinaryOp) and e.op.upper() == "AND":
                return conjuncts(e.left) + conjuncts(e.right)
            return [e]

        def side_of(c):
            if not isinstance(c, Col) or not c.table:
                return None
            t = c.table.lower()
            if t in left_al and t not in right_al:
                return "l"
            if t in right_al and t not in left_al:
                return "r"
            return None

        if p.condition is None:
            raise NotImplementedError("ASOF JOIN requires an ON clause")
        keys, ineq = [], None
        for cj in conjuncts(p.condition):
            ok = (isinstance(cj, BinaryOp)
                  and cj.op in ("=", ">=", "<="))
            ls = side_of(cj.left) if ok else None
            rs = side_of(cj.right) if ok else None
            if not ok or ls is None or rs is None or ls == rs:
                raise NotImplementedError(
                    "ASOF JOIN ON must be a conjunction of "
                    "left-vs-right column equalities plus ONE >=/<= "
                    f"timestamp bound; cannot compile {cj!r}")
            lc, rc = ((cj.left, cj.right) if ls == "l"
                      else (cj.right, cj.left))
            op = cj.op if ls == "l" else {">=": "<=", "<=": ">=",
                                          "=": "="}[cj.op]
            if op == "=":
                if lc.name != rc.name:
                    raise NotImplementedError(
                        f"as-of key columns must share a name "
                        f"({lc.name} vs {rc.name}); alias them equal "
                        "in a subquery first")
                keys.append(lc.name)
            else:
                if ineq is not None:
                    raise NotImplementedError(
                        "ASOF JOIN supports exactly one timestamp "
                        "inequality")
                ineq = (op, lc.name, rc.name)
        if ineq is None or not keys:
            raise NotImplementedError(
                "ASOF JOIN needs >= 1 key equality and exactly one "
                "timestamp inequality")

        left_df, right_df = self._c(p.left), self._c(p.right)
        out = asof_join(
            left_df, right_df, on=keys, left_ts=ineq[1],
            right_ts=ineq[2],
            direction="backward" if ineq[0] == ">=" else "forward")
        if p.how == "inner":
            out = out.filter(F.col(ineq[2] + "_right").isNotNull())
        if isinstance(p.left, SubqueryAlias):
            # keep the left relation's qualifier addressable (a.col);
            # right-side columns are reachable unqualified/suffixed
            out = out.alias(p.left.alias)
        return out

    def _push_runtime_join_filter(self, p: Join):
        """For an equi-join with exactly one federated input, bound the
        remote side by the other side's join-key min/max before the
        remote SQL executes. Only inner/semi joins (filtering a
        preserved outer side would drop null-extended rows).

        Returns ``(join, left_df, right_df)``: the side the probe
        compiled comes back compiled, the other as None. Compiling the
        probe side again would re-fire any remote sub-queries inside it
        (and re-plan the whole subtree)."""
        from .expressions import BinaryOp, Col
        cond = p.condition
        if not (isinstance(cond, BinaryOp) and cond.op == "="
                and isinstance(cond.left, Col)
                and isinstance(cond.right, Col)):
            return p, None, None
        sides = {"left": p.left, "right": p.right}
        remote_side = None
        for name, side in sides.items():
            if isinstance(side, RemoteQueryNode):
                if remote_side is not None:
                    return p, None, None   # both remote: nothing to probe
                remote_side = name
        if remote_side is None:
            return p, None, None
        remote = sides[remote_side]
        other = sides["left" if remote_side == "right" else "right"]
        rcols = _plan_output_cols(remote.plan)
        if rcols is None:
            return p, None, None
        if cond.left.name in rcols and cond.right.name not in rcols:
            rcol, ocol = cond.left.name, cond.right.name
        elif cond.right.name in rcols and cond.left.name not in rcols:
            rcol, ocol = cond.right.name, cond.left.name
        else:
            return p, None, None
        # the bounds job scans only the pruned key column
        other_df = self._c(other)
        row = other_df.agg(F.min(ocol).alias("lo"),
                           F.max(ocol).alias("hi")).collect()[0]
        d = remote.provider.dialect
        if row["lo"] is None:
            filters = ["1 = 0"]       # other side empty -> empty join
        else:
            filters = [f"{d.quote(rcol)} >= {d.literal(row['lo'])}",
                       f"{d.quote(rcol)} <= {d.literal(row['hi'])}"]
        bounded = remote.with_runtime_filters(filters)
        if remote_side == "left":
            return (Join(bounded, p.right, p.how, p.condition, p.using),
                    None, other_df)
        return (Join(p.left, bounded, p.how, p.condition, p.using),
                other_df, None)

    @staticmethod
    def _expand_star_options(df: DataFrame, projections):
        """SELECT [t.]* EXCEPT (cols) / REPLACE (expr AS col): expand into
        an explicit projection over the input DataFrame's columns. A
        qualified star resolves against that alias's own column set via
        Spark's `t.*` expansion, so `t.* REPLACE` compiles locally too
        (DataFusion plans wildcard options the same bind-time way,
        reference analyzer.rs:494-522)."""
        from .expressions import expand_star_options
        if not any(isinstance(e, Star) and (e.replace or e.exclude)
                   for e in projections):
            return projections
        out: List[Any] = []
        for e in projections:
            if not (isinstance(e, Star) and (e.replace or e.exclude)):
                out.append(e)
                continue
            cols = (df.select(f"{e.table}.*").columns if e.table
                    else df.columns)
            out.extend(expand_star_options(cols, e))
        return out

    def _lower_groups_frames(self, df: DataFrame, exprs):
        """SQL:2011 GROUPS frame mode (Postgres 11+/SQLite 3.28+; Spark
        and DuckDB lack it). A GROUPS frame counts PEER GROUPS, and the
        peer-group ordinal is exactly dense_rank over the window's
        partition/order — so ``GROUPS a PRECEDING AND b FOLLOWING``
        rewrites EXACTLY to ``RANGE a PRECEDING AND b FOLLOWING`` over
        that ordinal: the ordinal ascends 1-per-group along the declared
        order (direction and NULLS placement folded in by dense_rank),
        so group-distance equals value-distance on it. One helper column
        per distinct (partition, order) spec, shared across window calls;
        the outer select projects helpers away. EXCLUDE composes
        unchanged through _exclude_spark: peers of the ordinal ARE the
        original peer group, and the static validity checks read the
        same numeric bounds. Aggregate functions only — a ranking or
        value function's output depends on within-frame row order, which
        the ordinal collapses for ties."""
        from pyspark.sql import Window as W
        from .expressions import (
            AggFunc, Col as ColE, SortKey, WindowFrame, WindowFunc,
            walk as walk_expr)
        need = {}
        for e in exprs:
            for x in walk_expr(e):
                if not (isinstance(x, WindowFunc) and x.frame is not None
                        and x.frame.kind == "GROUPS"):
                    continue
                if not isinstance(x.func, AggFunc):
                    raise NotImplementedError(
                        "GROUPS frames are lowered for aggregate "
                        "functions only (a ranking/value function over "
                        "the peer ordinal would be order-arbitrary "
                        "within ties)")
                if not x.order_by:
                    raise NotImplementedError(
                        "GROUPS frame without ORDER BY has no peer "
                        "relation (the engines reject it too)")
                key = (tuple(str(e2.to_spark()) for e2 in x.partition_by),
                       tuple(str(k.to_spark()) for k in x.order_by))
                if key not in need:
                    need[key] = (f"__grp_ord{len(need)}", x)
        if not need:
            return df, exprs
        taken = set(df.columns)
        mapping = {}
        for key, (helper, wf) in need.items():
            while helper in taken:
                helper += "_"
            taken.add(helper)
            mapping[key] = helper
            w = W.partitionBy(*[e2.to_spark() for e2 in wf.partition_by])
            w = w.orderBy(*[k.to_spark() for k in wf.order_by])
            df = df.withColumn(helper, F.dense_rank().over(w))

        def repl(x):
            if (isinstance(x, WindowFunc) and x.frame is not None
                    and x.frame.kind == "GROUPS"):
                key = (tuple(str(e2.to_spark()) for e2 in x.partition_by),
                       tuple(str(k.to_spark()) for k in x.order_by))
                return WindowFunc(
                    x.func, x.partition_by,
                    (SortKey(ColE(mapping[key])),),
                    WindowFrame("RANGE", x.frame.start, x.frame.end,
                                exclude=x.frame.exclude),
                    ignore_nulls=x.ignore_nulls)
            return x

        return df, [_rewrite_expr(e, repl) for e in exprs]

    @staticmethod
    def _hint_decimal_distinct_windows(df: DataFrame, exprs):
        """Schema-aware type probe for SUM/AVG DISTINCT window
        aggregates (ADVICE r9): the exact fold in expressions.py seeds
        F.aggregate with the set's first element, and for DECIMAL
        columns Spark widens acc+v past the seed's precision — an
        ArrayAggregate type mismatch. The expression layer has no
        schema, so probe the argument's dtype HERE (analysis only, no
        job) and annotate the AggFunc with (precision, scale); the fold
        then pins its accumulator at DECIMAL(38, scale)."""
        import dataclasses

        from pyspark.sql.types import DecimalType

        from .expressions import (
            AggFunc, Star, WindowFunc, walk as walk_expr)

        def wants(x):
            return (isinstance(x, WindowFunc)
                    and isinstance(x.func, AggFunc)
                    and x.func.distinct
                    and x.func.name.lower() in ("sum", "avg")
                    and len(x.func.args) == 1
                    and not isinstance(x.func.args[0], Star)
                    and x.func.decimal_hint is None)

        if not any(wants(x) for e in exprs for x in walk_expr(e)):
            return exprs

        def repl(x):
            if wants(x):
                dt = df.select(
                    x.func.args[0].to_spark()).schema[0].dataType
                if isinstance(dt, DecimalType):
                    f2 = dataclasses.replace(
                        x.func, decimal_hint=(dt.precision, dt.scale))
                    return dataclasses.replace(x, func=f2)
            return x

        return [_rewrite_expr(e, repl) for e in exprs]

    def _lower_exclude_minmax(self, df: DataFrame, exprs):
        """MIN/MAX under SQL:2011 frame EXCLUDE (VERDICT r7 missing #1).
        The count/sum/avg exclusion arithmetic (_exclude_spark) has no
        min/max analog — removing a row can EXPOSE a new extremum — so
        the exact lowering splits the frame around the excluded rows
        and recombines with least/greatest (which skip NULLs, the
        aggregate null-skip rule; both halves empty -> NULL, the SQL
        identity for an all-excluded frame):

          EXCLUDE CURRENT ROW over a ROWS frame [lo, hi] (or any
          whole-partition frame — UNBOUNDED..UNBOUNDED is the same row
          set in every mode): agg over ROWS [lo, -1] combined with agg
          over ROWS [1, hi]. Both halves share one window spec, so one
          WindowExec evaluates them over the SAME sorted partition run
          — the union is exactly frame-minus-current-row under
          whatever tie order that run realized (ties were equally
          arbitrary in any lowering).

          EXCLUDE GROUP over a frame whose bounds are each UNBOUNDED
          or CURRENT ROW (RANGE bounds land on peer-group edges, so
          the frame is a contiguous ordinal span): agg over the
          dense_rank ORDINAL helper with RANGE [unbounded, -1] /
          [1, unbounded] halves clipped to the declared span — the
          peer group is exactly ordinal distance 0, strictly-before /
          strictly-after groups are distance <= -1 / >= 1.

          EXCLUDE TIES: the GROUP form recombined with the row's OWN
          value (NULL-skipping combine = the row re-enters unless its
          value is NULL, which min/max skip anyway).

        Every remaining shape (value-offset RANGE bounds, bounded ROWS
        with GROUP/TIES, CURRENT ROW over a partial RANGE frame) falls
        back to the r8 collect-and-filter form: collect_list(struct(rn,
        pk, x)) over the declared frame, drop excluded rows by
        row_number identity / peer-key equality, array_min/array_max
        the survivors, materializing the frame per row. That is fine
        for BOUNDED frames; most unbounded ones take the split paths
        (r14, O(1) state per row), but EXCLUDE CURRENT ROW over a
        one-sided-unbounded RANGE frame still collects an unbounded
        frame per row, quadratic per partition. Helper columns are
        shared per (partition, order) spec and projected away."""
        from pyspark.sql import Window as W

        from .expressions import (
            AggFunc, SparkCol, Star, WindowFunc, walk as walk_expr,
        )

        UP, UF = W.unboundedPreceding, W.unboundedFollowing

        def wants(x):
            return (isinstance(x, WindowFunc) and x.frame is not None
                    and x.frame.exclude
                    and isinstance(x.func, AggFunc)
                    and x.func.name.lower() in ("min", "max")
                    and not x.func.distinct
                    and not getattr(x.func, "order_by", None)
                    and not getattr(x.func, "within_group", False)
                    and len(x.func.args) == 1
                    and not isinstance(x.func.args[0], Star))

        def classify(x) -> str:
            fr = x.frame
            lo = fr._bound_spark(fr.start, True)
            hi = fr._bound_spark(fr.end, False)
            whole = lo == UP and hi == UF
            mode = fr.exclude.upper()
            if mode == "CURRENT ROW":
                return ("rows_split"
                        if fr.kind == "ROWS" or whole else "collect")
            if mode in ("GROUP", "TIES"):
                if whole or (fr.kind == "RANGE"
                             and lo in (UP, 0) and hi in (0, UF)):
                    return "ord_split"
                return "collect"
            raise NotImplementedError(
                f"unknown frame exclusion {fr.exclude!r}")

        # one pre-scan decides each window's path, so only the helpers
        # a path actually reads are materialized: rn (row identity)
        # for collect fallbacks, the dense_rank ordinal for group/ties
        # splits, nothing for the rows split
        need_rn, need_ord = {}, {}
        for e in exprs:
            for x in walk_expr(e):
                if wants(x):
                    if not x.order_by:
                        raise NotImplementedError(
                            "frame EXCLUDE on MIN/MAX needs ORDER BY "
                            "(row identity and peers are undefined "
                            "without it)")
                    key = (tuple(str(e2.to_spark())
                                 for e2 in x.partition_by),
                           tuple(str(k.to_spark()) for k in x.order_by))
                    path = classify(x)
                    if path == "collect":
                        need_rn.setdefault(key, x)
                    elif path == "ord_split":
                        need_ord.setdefault(key, x)
        if not (need_rn or need_ord):
            # rows_split needs no helper, but an expression rewrite may
            # still be due
            if not any(wants(x) for e in exprs for x in walk_expr(e)):
                return df, exprs

        taken = set(df.columns)
        rn_map, ord_map = {}, {}
        for need, mapping, fn, stem in (
                (need_rn, rn_map, F.row_number, "__xrn"),
                (need_ord, ord_map, F.dense_rank, "__xord")):
            for key, wf in need.items():
                helper = f"{stem}{len(mapping)}"
                while helper in taken:
                    helper += "_"
                taken.add(helper)
                mapping[key] = helper
                w = W.partitionBy(
                    *[e2.to_spark() for e2 in wf.partition_by])
                w = w.orderBy(*[k.to_spark() for k in wf.order_by])
                df = df.withColumn(helper, fn().over(w))

        def combine(fname, parts):
            nn = [p for p in parts if p is not None]
            if not nn:
                return None
            if len(nn) == 1:
                return nn[0]
            return (F.least(*nn) if fname == "min" else F.greatest(*nn))

        def repl(x):
            if not wants(x):
                return x
            key = (tuple(str(e2.to_spark()) for e2 in x.partition_by),
                   tuple(str(k.to_spark()) for k in x.order_by))
            fr = x.frame
            lo = fr._bound_spark(fr.start, True)
            hi = fr._bound_spark(fr.end, False)
            mode = fr.exclude.upper()
            fname = x.func.name.lower()
            agg = F.min if fname == "min" else F.max
            xc = x.func.args[0].to_spark()
            if x.func.filter is not None:
                xc = F.when(x.func.filter.to_spark(), xc)
            # typed NULL (empty exclusion remainder): keeps the arg's
            # own type so the projected schema matches the engines
            null_t = F.when(F.lit(False), xc)
            path = classify(x)
            wbase = W.partitionBy(
                *[e2.to_spark() for e2 in x.partition_by])

            if path == "rows_split":
                w = wbase.orderBy(*[k.to_spark() for k in x.order_by])
                if lo == UP and hi == UF and fr.kind != "ROWS":
                    lo2, hi2 = UP, UF
                else:
                    lo2, hi2 = lo, hi
                if lo2 > 0 or hi2 < 0:
                    # current row provably out of frame: no-op
                    out = agg(xc).over(
                        w.rowsBetween(lo2, hi2) if fr.kind == "ROWS"
                        else w.rangeBetween(lo2, hi2))
                    return SparkCol(out, fname)
                parts = []
                if lo2 <= -1:
                    parts.append(agg(xc).over(w.rowsBetween(lo2, -1)))
                if hi2 >= 1:
                    parts.append(agg(xc).over(w.rowsBetween(1, hi2)))
                out = combine(fname, parts)
                return SparkCol(out if out is not None else null_t,
                                fname)

            if path == "ord_split":
                ordc = F.col(ord_map[key])
                w2 = wbase.orderBy(ordc)
                a = UP if lo == UP else 0
                b = UF if hi == UF else 0
                parts = []
                if a == UP:
                    parts.append(agg(xc).over(w2.rangeBetween(UP, -1)))
                if b == UF:
                    parts.append(agg(xc).over(w2.rangeBetween(1, UF)))
                if mode == "TIES":
                    parts.append(xc)
                out = combine(fname, parts)
                return SparkCol(out if out is not None else null_t,
                                fname)

            # collect fallback (bounded exotic frames)
            rn = F.col(rn_map[key])
            w = wbase.orderBy(*[k.to_spark() for k in x.order_by])
            w = (w.rowsBetween(lo, hi) if fr.kind == "ROWS"
                 else w.rangeBetween(lo, hi))
            pk = F.struct(*[k.expr.to_spark() for k in x.order_by])
            arr = F.collect_list(
                F.struct(rn.alias("rn"), pk.alias("pk"),
                         xc.alias("x"))).over(w)
            if mode == "CURRENT ROW":
                kept = F.filter(arr, lambda s: s["rn"] != rn)
            elif mode == "GROUP":
                kept = F.filter(arr, lambda s: ~s["pk"].eqNullSafe(pk))
            else:  # TIES
                kept = F.filter(
                    arr, lambda s: (s["rn"] == rn)
                    | ~s["pk"].eqNullSafe(pk))
            vals = F.filter(F.transform(kept, lambda s: s["x"]),
                            lambda v: v.isNotNull())
            out = (F.array_min(vals) if fname == "min"
                   else F.array_max(vals))
            return SparkCol(out, fname)

        return df, [_rewrite_expr(e, repl) for e in exprs]

    def _compile_limit_ties(self, p) -> DataFrame:
        """ANSI `FETCH FIRST n ROWS WITH TIES` (VERDICT r7 missing #1):
        the first n rows under the governing ORDER BY plus every peer of
        the boundary row. Exact lowering WITHOUT a no-partition global
        rank window (which would funnel 100 TB through one task): probe
        the (skip+n)-th row's sort-key tuple once (a LIMIT-n driver
        probe — n rows is driver-sized by assumption of LIMIT), then
        keep rows whose key tuple sorts <= the boundary under the
        declared directions/null placements — a distributed,
        pushdown-friendly filter. Rows strictly before the boundary are
        exactly ranks < skip+n; rows equal to it are its tie group;
        everything after is excluded — Postgres 13 semantics, OFFSET
        applied after tie expansion."""
        from .plans.nodes import Project as _Proj, Sort as _Sort
        from .expressions import Col as _Col

        def peel(n):
            """(sort, restore) when n is Sort or a restoring
            Project-of-plain-Cols over Sort (the hidden sort-column
            carry); (None, None) otherwise."""
            if isinstance(n, _Sort):
                return n, None
            if (isinstance(n, _Proj) and isinstance(n.input, _Sort)
                    and all(isinstance(e, _Col) for e in n.projections)):
                return n.input, [e.name for e in n.projections]
            return None, None

        node = p.input
        sort, restore = peel(node)
        if sort is not None:
            df = self._c(sort)
        elif isinstance(node, RemoteQueryNode):
            # a dialect without WITH TIES syntax claimed the child (the
            # whole-plan claim refused at unparse). Two repairs: the
            # restoring projection may have DROPPED hidden sort keys —
            # re-claim only the Sort subtree so the keys arrive — and
            # remote arrival order is not a contract — re-sort locally
            # (cheap: that shuffle is the boundary filter's input
            # either way), then probe as usual.
            sort, restore = peel(node.plan)
            if sort is None:
                raise NotImplementedError(
                    "FETCH ... WITH TIES needs the governing ORDER BY "
                    "directly beneath the fetch")
            if restore is not None:
                from .federation import _claim
                node = _claim(node.provider, sort)
            df = self._c(node).orderBy(
                *[k.to_spark() for k in sort.keys])
        else:
            raise NotImplementedError(
                "FETCH ... WITH TIES needs the governing ORDER BY "
                "directly beneath the fetch")
        if p.fetch == 0:
            # Degenerate fetch (ADVICE r9): FETCH FIRST 0 ROWS WITH TIES
            # returns zero rows (Postgres 13). Without this the empty
            # probe would skip the boundary filter and return EVERYTHING.
            df = df.limit(0)
            if restore is not None:
                df = df.select(*restore)
            return df
        n = (p.fetch if p.fetch is not None else 1) + (p.skip or 0)
        key_cols = [k.expr.to_spark() for k in sort.keys]
        probe = (df.select(*[c.alias(f"__tk{i}")
                             for i, c in enumerate(key_cols)])
                 .limit(n).tail(1))
        if probe:
            # fewer than n rows => probe is the global maximum key and
            # the <= filter keeps everything, as WITH TIES requires
            df = df.where(self._lex_le(sort.keys, key_cols, probe[0]))
        if p.skip:
            df = df.offset(p.skip)
        if restore is not None:
            df = df.select(*restore)
        return df

    @staticmethod
    def _lex_le(keys, key_cols, brow) -> Column:
        """key tuple sorts at-or-before the boundary row's tuple under
        the per-key direction and null placement (Spark defaults: ASC
        nulls first, DESC nulls last — exactly SortKey.to_spark)."""
        eqs = []
        out = None
        for i, (k, c) in enumerate(zip(keys, key_cols)):
            bv = brow[i]
            b = F.lit(bv)
            nf = (k.nulls_first if k.nulls_first is not None
                  else k.ascending)
            if bv is None:
                # boundary is NULL: with nulls-first nothing sorts
                # strictly before it; with nulls-last every non-null does
                strict = F.lit(False) if nf else c.isNotNull()
            else:
                base = (c < b) if k.ascending else (c > b)
                null_side = c.isNull() if nf else F.lit(False)
                strict = null_side | (c.isNotNull() & base)
            term = strict
            for e in eqs:
                term = e & term
            out = term if out is None else (out | term)
            eqs.append(c.eqNullSafe(b))
        all_eq = eqs[0]
        for e in eqs[1:]:
            all_eq = all_eq & e
        return out | all_eq

    def _prepare_exprs(self, df: DataFrame, exprs, outer_plan: Plan = None):
        """Expression lowering for the local path: quantified comparisons
        rewrite to IN / min-max scalar subqueries, session variables
        resolve from the Spark conf, then scalar subqueries attach as
        broadcast joins. ``outer_plan`` is the plan that produced `df`,
        used to prove alias provenance when binding correlated refs."""
        exprs = [_rewrite_expr(e, self._rewrite_quantifier) for e in exprs]
        exprs = [_rewrite_expr(e, self._resolve_scalar_variable)
                 for e in exprs]
        return self._attach_scalar_subqueries(df, exprs, outer_plan)

    def _rewrite_quantifier(self, x: Expr) -> Expr:
        """ANY/ALL (analyzer.rs:566-586) — local rewrite (SURVEY.md §2C):
        ``= ANY`` -> IN, ``<> ALL`` -> NOT IN, ordered comparisons ->
        min/max scalar aggregate of the subquery guarded by its COUNT so
        the SQL empty-set identities hold: ``x > ALL({})`` is TRUE
        (cnt = 0 OR cmp), ``x > ANY({})`` is FALSE (cnt <> 0 AND cmp).
        NULLs inside the subquery follow min/max ignore-null semantics
        (a documented divergence from full three-valued ALL/ANY)."""
        from .expressions import (
            AggFunc, Alias, BinaryOp, InSubquery, Lit, ScalarSubquery,
            SetComparison)
        if not isinstance(x, SetComparison):
            return x
        op, quant = x.op, x.quantifier.upper()
        if (op, quant) == ("=", "ANY"):
            return InSubquery(x.expr, x.plan)
        if (op, quant) == ("<>", "ALL"):
            return InSubquery(x.expr, x.plan, negated=True)
        table = {(">", "ANY"): "min", (">=", "ANY"): "min",
                 (">", "ALL"): "max", (">=", "ALL"): "max",
                 ("<", "ANY"): "max", ("<=", "ANY"): "max",
                 ("<", "ALL"): "min", ("<=", "ALL"): "min"}
        name = table.get((op, quant))
        if name is None:
            raise NotImplementedError(
                f"local {op} {quant} (subquery) has no simple aggregate "
                "rewrite; run it federated")
        # r9: a bare-expression subquery projection (SELECT x/100 FROM
        # ...) compiles to Spark's auto-generated column name, not
        # output_name()'s "expr" fallback — alias it explicitly so the
        # aggregate below resolves (found by a correlated `< ANY
        # (SELECT o_totalprice / 100 ...)` probe failing with
        # UNRESOLVED_COLUMN `expr`)
        plan, out_col = _stabilize_first_output(x.plan,
                                                self._remote_schema)
        # ONE shared aggregate plan emits both the extremum and the
        # count: both ScalarSubquery nodes point at the SAME object, so
        # _attach_scalar_subqueries compiles (and a federated subquery
        # executes remotely) exactly once, and the two values are
        # consistent even against a changing remote
        agg_plan = Aggregate(plan, [],
                             [Alias(AggFunc(name, [Col(out_col)]),
                                    f"__{name}"),
                              Alias(AggFunc("count", []), "__cnt")])
        cmp = BinaryOp(op, x.expr,
                       ScalarSubquery(agg_plan, column=f"__{name}"))
        cnt = ScalarSubquery(agg_plan, column="__cnt")
        if quant == "ALL":
            return BinaryOp("OR", BinaryOp("=", cnt, Lit(0)), cmp)
        return BinaryOp("AND", BinaryOp("<>", cnt, Lit(0)), cmp)

    def _resolve_scalar_variable(self, x: Expr) -> Expr:
        from .expressions import Lit, ScalarVariable
        if isinstance(x, ScalarVariable):
            return Lit(self.spark.conf.get(x.name, None))
        return x

    def _attach_scalar_subqueries(self, df: DataFrame, exprs,
                                  outer_plan: Plan = None):
        """Inline each uncorrelated ScalarSubquery as a broadcast LEFT
        JOIN ON TRUE of its 0-or-1-row result. Keeps everything in ONE
        Catalyst plan (no driver collect, no second job), and an empty
        subquery result yields NULL exactly as SQL requires. The
        reference federates these independently then joins
        (optimizer/mod.rs:285-305); correlated ones are refused upstream
        (optimizer/mod.rs:114-120).

        Correlated scalar subqueries decorrelate instead: the ungrouped
        aggregate becomes a GROUP BY over the correlation keys LEFT-joined
        on those keys (see _attach_correlated_scalar).

        Returns (df_with_joins, rewritten_exprs, helper_col_names).
        """
        from .expressions import ScalarSubquery
        state = {"df": df, "n": 0, "cols": [], "plans": {},
                 "outer_plan": outer_plan}

        def replace(x: Expr) -> Expr:
            if isinstance(x, ScalarSubquery):
                key = id(x.plan)
                if key not in state["plans"]:
                    n = state["n"]
                    state["n"] += 1
                    if _plan_has_external_outer_ref(x.plan):
                        # name -> Expr mapping (empty-set values wrap in
                        # coalesce). External-ref detection descends into
                        # nested subqueries with scope accounting, so a
                        # scalar whose OuterRef hides inside an inner
                        # EXISTS routes here (and raises honestly if its
                        # correlation cannot be hoisted) instead of
                        # silently compiling as uncorrelated
                        state["plans"][key] = \
                            self._attach_correlated_scalar(state, x.plan, n)
                    else:
                        from .expressions import Col
                        sub = self._c(x.plan)
                        names = {c: f"__sq{n}_{i}" if i else f"__sq{n}"
                                 for i, c in enumerate(sub.columns)}
                        sub = sub.select(*[F.col(c).alias(h)
                                           for c, h in names.items()])
                        state["df"] = state["df"].join(
                            F.broadcast(sub), on=F.lit(True), how="left")
                        state["cols"].extend(names.values())
                        # plans sharing one object join (and execute) once
                        state["plans"][key] = {c: Col(h)
                                               for c, h in names.items()}
                names = state["plans"][key]
                return (names[x.column] if x.column is not None
                        else next(iter(names.values())))
            return x

        new = [_rewrite_expr(e, replace) for e in exprs]
        return state["df"], new, state["cols"]

    def _scalar_theta_grouped(self, state, node, cleaned, keys, theta,
                              inner_keys, n, outer_col):
        """Keyed rewrite for THETA-correlated scalar aggregates (r9):
        DISTINCT outer tuples (equality key exprs + theta outer refs)
        INNER-join the inner side on eq keys + theta residue, group by
        the outer tuple. The caller LEFT-joins the result back and its
        existing empty-set coalesce supplies values for outer rows the
        inner join dropped — including NULL theta operands, whose
        comparisons are UNKNOWN on the engines too. Returns (sub frame,
        key_helper, val_helper) in the caller's naming scheme."""
        from .expressions import (
            Col, OuterRef, SparkCol, walk as walk_expr)
        if len(keys) != len(inner_keys):
            raise NotImplementedError(
                "duplicate-inner-key equality correlation combined "
                "with theta residue is unsupported")
        need = list(inner_keys) + [
            x.name for c in theta for x in walk_expr(c)
            if isinstance(x, Col)]
        widened = _widen_projects(cleaned, need)
        inner_df = self._c(widened)
        if not keys:
            inner_df = self._theta_bnl_gate(
                inner_df, "correlated scalar subquery",
                key_node=widened)
        theta_refs, seen = [], {}
        for c in theta:
            for x in walk_expr(c):
                if isinstance(x, OuterRef) \
                        and x.name.lower() not in seen:
                    seen[x.name.lower()] = len(theta_refs)
                    theta_refs.append(x)
        key_helper = {k: f"__sq{n}_k{i}"
                      for i, k in enumerate(inner_keys)}
        t_names = [f"__sq{n}_t{j}" for j in range(len(theta_refs))]
        okeys = ([outer_col(expr).alias(key_helper[ik])
                  for expr, ik in keys] +
                 [outer_col(x).alias(nm)
                  for x, nm in zip(theta_refs, t_names)])
        keyed = state["df"].select(*okeys).dropDuplicates()
        jc = None
        for ik in inner_keys:
            c0 = keyed[key_helper[ik]] == inner_df[ik]
            jc = c0 if jc is None else jc & c0
        for c in theta:
            def repl(x):
                if isinstance(x, OuterRef):
                    return SparkCol(
                        keyed[t_names[seen[x.name.lower()]]], x.name)
                if isinstance(x, Col):
                    return SparkCol(inner_df[x.name], x.name)
                return x
            c1 = _rewrite_expr(c, repl).to_spark()
            jc = c1 if jc is None else jc & c1
        helpers = list(key_helper.values()) + t_names
        grouped = (keyed.join(inner_df, on=jc, how="inner")
                   .groupBy(*[keyed[h] for h in helpers])
                   .agg(*[a.to_spark() for a in node.aggregates]))
        val_cols = grouped.columns[len(helpers):]
        val_helper = {c: f"__sq{n}_{i}" if i else f"__sq{n}"
                      for i, c in enumerate(val_cols)}
        sub = grouped.select(
            *[F.col(h) for h in helpers],
            *[F.col(c).alias(hh) for c, hh in val_helper.items()])
        state["_theta_refs"] = list(zip(theta_refs, t_names))
        state["cols"].extend(t_names)
        return sub, key_helper, val_helper

    def _attach_correlated_scalar(self, state, plan: Plan, n: int):
        """Decorrelate a correlated scalar aggregate subquery. The shape
        ``(SELECT agg(e) FROM t WHERE t.k = outer.k [AND local preds])``
        rewrites to ``t.groupBy(k).agg(...)`` LEFT-joined to the outer
        frame on the correlation keys — the standard aggregate
        decorrelation DataFusion's analyzer applies before the federation
        rule sees the plan (the reference forces correlated subtrees
        local, optimizer/mod.rs:114-120; the grouped form is how Spark's
        own analyzer lowers the SQL-literal equivalent). At scale this is
        one shuffle of the inner table on the correlation key followed by
        a key equi-join — AQE picks broadcast when the grouped side is
        small; nothing touches the driver.

        Aggregate items containing COUNT coalesce to their empty-set
        value on no-match (SQL: the subquery over an empty correlated set
        still evaluates the expression — COUNT()=0, so COUNT(*)+1 = 1;
        SUM over empty stays NULL). r9: the equality's outer side may be
        ANY expression over outer columns (evaluated on the outer frame
        verbatim), and non-equality (theta) conjuncts decorrelate via
        the lateral machinery's keyed rewrite — DISTINCT outer tuples
        INNER-join the inner side on eq keys + theta residue, group by
        the outer tuple, LEFT-join back; the existing empty-set coalesce
        supplies unmatched rows' values, so no anti-join is needed here.

        Returns a mapping: aggregate output name -> replacement Expr.
        """
        from .expressions import (
            AggFunc, Alias, BinaryOp, Col, Exists, Func, InSubquery, Lit,
            OuterRef, ScalarSubquery, SparkCol, walk as walk_expr)
        node = plan
        while isinstance(node, SubqueryAlias):
            node = node.input
        if (not isinstance(node, Aggregate) or node.group_by
                or node.having is not None):
            raise NotImplementedError(
                "correlated scalar subquery must be a single ungrouped "
                "aggregate (SELECT agg(...) FROM ... WHERE correlation)")
        conds, cleaned = _extract_correlated(node.input)

        def _is_outer_expr(e):
            ns = list(walk_expr(e))
            return (any(isinstance(x, OuterRef) for x in ns)
                    and not any(isinstance(x, Col) for x in ns)
                    and not any(isinstance(
                        x, (Exists, InSubquery, ScalarSubquery))
                        for x in ns))

        def outer_col(e):
            """Outer-side expression -> Column against the outer frame."""
            def repl(x):
                if isinstance(x, OuterRef):
                    return SparkCol(
                        _resolve_outer(state["df"], x,
                                       state["outer_plan"]), x.name)
                return x
            return _rewrite_expr(e, repl).to_spark()

        keys = []            # (outer expr, inner column name)
        theta = []
        for c in conds:
            if isinstance(c, BinaryOp) and c.op == "=":
                left, right = c.left, c.right
                if _is_outer_expr(left) and isinstance(right, Col):
                    keys.append((left, right.name))
                    continue
                if _is_outer_expr(right) and isinstance(left, Col):
                    keys.append((right, left.name))
                    continue
            theta.append(c)
        if not keys and not theta:
            raise NotImplementedError(
                "correlated scalar subquery has no correlation predicate "
                "in its Filter spine")
        # r10: pure theta (no equality key) flows into the keyed rewrite
        # with an empty key set — _scalar_theta_grouped applies the
        # size-gated broadcast-nested-loop path and refuses above it
        for c in theta:
            for x in walk_expr(c):
                if isinstance(x, (Exists, InSubquery, ScalarSubquery)):
                    raise NotImplementedError(
                        "correlated scalar subquery: correlation may "
                        "not contain nested subqueries")
        inner_keys: List[str] = []
        for _, ik in keys:
            if ik not in inner_keys:
                inner_keys.append(ik)
        if theta:
            sub, key_helper, val_helper = self._scalar_theta_grouped(
                state, node, cleaned, keys, theta, inner_keys, n,
                outer_col)
        else:
            # the subquery's own projection may have dropped the
            # correlation keys (quantifier rewrites project only the
            # compared column): widen explicit Projects on the spine so
            # the grouping resolves
            cleaned = _widen_projects(cleaned, inner_keys)
            grouped = Aggregate(cleaned, [Col(k) for k in inner_keys],
                                node.aggregates)
            sub = self._c(grouped)
            key_helper = {k: f"__sq{n}_k{i}"
                          for i, k in enumerate(inner_keys)}
            val_cols = sub.columns[len(inner_keys):]
            val_helper = {c: f"__sq{n}_{i}" if i else f"__sq{n}"
                          for i, c in enumerate(val_cols)}
            sub = sub.select(
                *[F.col(k).alias(h) for k, h in key_helper.items()],
                *[F.col(c).alias(h) for c, h in val_helper.items()])
        on = None
        for outer_expr, ik in keys:
            cond = outer_col(outer_expr) == sub[key_helper[ik]]
            on = cond if on is None else (on & cond)
        if theta:
            # theta groups key on the outer TUPLE: the extra outer-ref
            # helper columns must join too (null-safely is unnecessary —
            # a NULL operand makes the theta comparison UNKNOWN, the
            # group never exists, and the coalesce supplies the
            # empty-set value either way)
            for href, hname in state.pop("_theta_refs", []):
                cond = outer_col(href) == sub[hname]
                on = cond if on is None else on & cond
        state["df"] = state["df"].join(sub, on=on, how="left")
        state["cols"].extend(list(key_helper.values())
                             + list(val_helper.values()))

        def empty_set_value(e: Expr) -> Expr:
            """The aggregate expression evaluated over an empty input:
            COUNT-family -> 0, every other aggregate -> NULL, with the
            surrounding arithmetic kept (NULL propagates through it
            exactly as SQL evaluates the empty-set subquery)."""
            def repl(x: Expr) -> Expr:
                if isinstance(x, AggFunc):
                    if x.name.lower() in ("count", "count_if",
                                          "approx_count_distinct"):
                        return Lit(0)
                    return Lit(None)
                return x
            return _rewrite_expr(e, repl)

        out: Dict[str, Expr] = {}
        for item, (cname, h) in zip(node.aggregates, val_helper.items()):
            e = item.expr if isinstance(item, Alias) else item
            # ALWAYS wrap: the empty-set value is non-NULL not only for
            # COUNT but for any non-strict wrapper — COALESCE(SUM(x),0)
            # over an empty correlated set is 0, not NULL. For plain
            # strict aggregates the computed fallback is NULL and the
            # coalesce is a no-op.
            out[cname] = Func("coalesce", [Col(h), empty_set_value(e)])
        return out

    def _grouping(self, df: DataFrame, group_by):
        """Returns (GroupedData, key_names): key_names has one entry per
        leading key column of the aggregated output — the select-list
        label for Alias-relabeled grouping-set members (applied by the
        caller AFTER the agg: Spark's GROUPING() refuses aliased
        grouping columns), None where Spark's own name stands."""
        from .expressions import Alias as _Alias

        def bare(e):
            return e.expr if isinstance(e, _Alias) else e

        def label(e):
            return e.name if isinstance(e, _Alias) else None

        plain = [g for g in group_by
                 if not isinstance(g, (Rollup, Cube, GroupingSets))]
        special = [g for g in group_by
                   if isinstance(g, (Rollup, Cube, GroupingSets))]
        if not special:
            # plain keys keep their aliases inline (no GROUPING() here —
            # Spark rejects it outside grouping sets)
            return df.groupBy(*[g.to_spark() for g in plain]), []
        assert len(special) == 1 and not plain, \
            "mixed grouping-set forms are not supported"
        s = special[0]
        if isinstance(s, Rollup):
            return (df.rollup(*[bare(e).to_spark() for e in s.exprs]),
                    [label(e) for e in s.exprs])
        if isinstance(s, Cube):
            return (df.cube(*[bare(e).to_spark() for e in s.exprs]),
                    [label(e) for e in s.exprs])
        # GROUPING SETS via the DataFrame API (Spark >= 4.0): the
        # trailing *cols must list the union of grouping columns, or the
        # key columns are missing from the aggregated output
        from .dialects import get_dialect
        d = get_dialect("ansi")
        sets = [[bare(e).to_spark() for e in one] for one in s.sets]
        seen, all_cols, names = set(), [], []
        for one in s.sets:
            for e in one:
                key = bare(e).to_sql(d)
                if key not in seen:
                    seen.add(key)
                    all_cols.append(bare(e).to_spark())
                    names.append(label(e))
        return df.groupingSets(sets, *all_cols), names

    def _filter_plain(self, df: DataFrame, pred: Expr,
                      outer_plan: Plan = None) -> DataFrame:
        """Filter with a predicate free of EXISTS/IN subqueries (scalar
        subqueries and session variables are lowered here)."""
        from .expressions import ScalarSubquery, walk as walk_expr
        if any(isinstance(n, ScalarSubquery) for n in walk_expr(pred)):
            df, (pred,), cols = self._prepare_exprs(df, [pred], outer_plan)
            return df.filter(pred.to_spark()).drop(*cols)
        pred = _rewrite_expr(pred, self._resolve_scalar_variable)
        return df.filter(pred.to_spark())

    def _apply_subquery_pred(self, df: DataFrame, pred: Expr,
                             outer_plan: Plan = None) -> DataFrame:
        """EXISTS / IN subqueries compile to LEFT SEMI / LEFT ANTI joins
        (SURVEY.md §2C; the reference keeps them local too — DataFusion
        decorrelates before federation, src/lib.rs:39-52). Correlated
        EXISTS decorrelates here: top-level correlated conjuncts hoist
        out of the subquery's filters into the join condition."""
        from .expressions import Exists, InSubquery
        if isinstance(pred, Exists):
            how = "left_anti" if pred.negated else "left_semi"
            conds, cleaned = _extract_correlated(pred.plan)
            if conds:
                # a semi/anti join never outputs right-side columns, so
                # the subquery's projection is semantically irrelevant —
                # strip it so hoisted join columns stay resolvable
                while isinstance(cleaned, Project):
                    cleaned = cleaned.input
            sub = self._c(cleaned)
            if conds:
                on = None
                for c in conds:
                    sc = _corr_to_spark(c, df, sub, outer_plan)
                    on = sc if on is None else (on & sc)
                return df.join(sub, on=on, how=how)
            # uncorrelated EXISTS: keep-all or keep-none
            return df.join(sub.limit(1), how=how,
                           on=F.lit(True))
        if isinstance(pred, InSubquery):
            if _plan_has_outer_ref(pred.plan):
                return self._apply_correlated_in(df, pred, outer_plan)
            sub = self._c(pred.plan)
            # rename the subquery's output column to a unique name: the
            # common `id IN (SELECT id FROM s)` shape would otherwise
            # make the bare outer reference ambiguous
            sub = sub.select(sub[sub.columns[0]].alias("__in_sq"))
            if pred.negated:
                # NULL-AWARE NOT IN, kept EQUI-KEYED (ADVICE r4): the
                # naive encoding — anti join on (equality OR either side
                # IS NULL) — is a non-equi condition Spark can only plan
                # as a broadcast-nested-loop, O(outer x sub) when the
                # subquery side is large. Three-valued NOT IN decomposes
                # into equi-friendly facts instead:
                #   - EMPTY subquery      -> keep every row (even NULL
                #     outer values: NOT IN over zero rows is TRUE);
                #   - any NULL in the sub -> keep NO row (match gives
                #     FALSE, everything else UNKNOWN);
                #   - else                -> keep non-NULL outer rows
                #     with no equality match.
                # The subquery collapses to ONE broadcast row of
                # (row count, non-null count) gating a plain equality
                # anti join — hash-joinable at any scale. The subquery
                # plan is referenced twice (counts + values); both are
                # the same scan and orders of magnitude cheaper than the
                # nested loop they replace.
                e = pred.expr.to_spark()
                counts = sub.agg(
                    F.count(F.lit(1)).alias("__in_n"),
                    F.count("__in_sq").alias("__in_nn"))
                gated = (df.crossJoin(F.broadcast(counts))
                         .filter((F.col("__in_n") == 0)
                                 | ((F.col("__in_n") == F.col("__in_nn"))
                                    & e.isNotNull())))
                return (gated.join(sub, on=e == sub["__in_sq"],
                                   how="left_anti")
                        .drop("__in_n", "__in_nn"))
            return df.join(sub,
                           on=pred.expr.to_spark() == sub["__in_sq"],
                           how="left_semi")
        raise ValueError("unsupported subquery predicate form")

    def _apply_correlated_in(self, df: DataFrame, pred,
                             outer_plan: Plan = None) -> DataFrame:
        """Correlated (NOT) IN decorrelation (r5 — the local-path gap
        the SQL fuzzer exposed once subquery shapes ran locally).

        Positive IN is EXISTS with the membership equality added to the
        hoisted correlation condition: one LEFT SEMI join, equi-keyed
        whenever the correlation is.

        NOT IN keeps full three-valued semantics per correlation group
        S(row) = {y : corr}: keep a row iff S is empty, or (x is not
        null, S holds no null, x not in S). Decomposed into three LEFT
        ANTI joins against the same compiled subquery — each condition
        carries the correlation conjuncts plus one extra fact, so the
        hot path stays hash-joinable:
          1. anti on (corr AND y = x)        — membership match
          2. anti on (corr AND y IS NULL)    — a null in S poisons all
          3. anti on (corr AND x IS NULL)    — null x only passes when
             S is empty (no corr match at all)
        """
        from .expressions import Alias as AliasE, Col as ColE
        conds, cleaned = _extract_correlated(pred.plan)
        if not conds:
            raise NotImplementedError(
                "IN subquery's outer references could not be hoisted "
                "from its filter spine (they may sit below an "
                "aggregate/limit, or in the SELECT list) — cannot "
                "decorrelate without changing semantics")
        # the membership column must survive projection stripping (the
        # hoisted correlation conjuncts reference base columns a
        # projection may hide): follow the FIRST output column of the
        # OUTERMOST projection through each inner projection's rename
        # chain; refuse computed membership expressions
        def _src_col(e):
            if isinstance(e, ColE):
                return e.name
            if isinstance(e, AliasE) and isinstance(e.expr, ColE):
                return e.expr.name
            raise NotImplementedError(
                "correlated IN over a computed subquery column")

        def _out_name(e):
            try:
                return e.output_name().lower()
            except Exception:  # noqa: BLE001 - unnamed projection
                return None

        y_name = None
        probe = cleaned
        while isinstance(probe, Project):
            if y_name is None:
                y_name = _src_col(probe.projections[0])
            else:
                e = next((pe for pe in probe.projections
                          if _out_name(pe) == y_name.lower()), None)
                if e is None:
                    raise NotImplementedError(
                        "correlated IN: membership column "
                        f"{y_name!r} is not produced by an inner "
                        "projection")
                y_name = _src_col(e)
            probe = probe.input
        stripped = cleaned
        while isinstance(stripped, Project):
            stripped = stripped.input
        sub = self._c(stripped)
        if y_name is None:
            y_name = sub.columns[0]
        y = sub[y_name]
        # materialize the probe on the OUTER frame first: an unqualified
        # probe column sharing its name with a subquery column would be
        # AMBIGUOUS in the join condition otherwise (the same hazard the
        # uncorrelated arm renames __in_sq for — review r5, reproduced)
        df2 = df.withColumn("__in_probe", pred.expr.to_spark())
        x = df2["__in_probe"]
        corr = None
        for c in conds:
            sc = _corr_to_spark(c, df2, sub, outer_plan)
            corr = sc if corr is None else (corr & sc)
        if not pred.negated:
            return (df2.join(sub, on=corr & (y == x), how="left_semi")
                    .drop("__in_probe"))
        out = df2.join(sub, on=corr & (y == x), how="left_anti")
        out = out.join(sub, on=corr & y.isNull(), how="left_anti")
        return (out.join(sub, on=corr & x.isNull(), how="left_anti")
                .drop("__in_probe"))


def _has_outer_ref(e: Expr) -> bool:
    from .expressions import OuterRef, walk
    return any(isinstance(n, OuterRef) for n in walk(e))


def _plan_has_outer_ref(p: Plan) -> bool:
    from .plans.nodes import walk_plan
    return any(_has_outer_ref(e) for node in walk_plan(p)
               for e in node.exprs())


def _plan_has_external_outer_ref(p: Plan) -> bool:
    """True iff `p` contains an outer reference that points OUTSIDE the
    plan itself — at any subquery nesting depth, with SQL-lexical scope
    accounting: a nested subquery's OuterRef that resolves to an alias
    bound by an enclosing scope WITHIN `p` is internal correlation
    (handled when that subquery compiles), not external. Unqualified
    nested refs are treated as external (unknowable — must not take the
    uncorrelated broadcast path, where they could silently bind a
    same-named column of the wrong frame)."""
    from .expressions import (
        Exists, InSubquery, OuterRef, ScalarSubquery, SetComparison, walk)
    from .federation import _visible_aliases  # late: avoids module cycle
    from .plans.nodes import walk_plan

    def visit(plan: Plan, enclosing: frozenset) -> bool:
        own = _visible_aliases(plan)
        for node in walk_plan(plan):
            for e in node.exprs():
                for x in walk(e):
                    if isinstance(x, OuterRef):
                        qual = x.table.lower() if x.table else None
                        if qual is None or qual not in enclosing:
                            return True
                    elif isinstance(x, (Exists, InSubquery,
                                        ScalarSubquery, SetComparison)):
                        if visit(x.plan, enclosing | own):
                            return True
        return False

    return visit(p, frozenset())


def _widen_projects(p: Plan, needed: List[str]) -> Plan:
    """Append missing columns to explicit Projects on the
    Filter/Project/SubqueryAlias spine so a grouping over `needed`
    resolves (a subquery's own projection legitimately drops the
    correlation key — e.g. the ALL/ANY quantifier rewrite projects only
    the compared column). Star projections already pass everything
    through, so they are left alone."""
    from .expressions import Alias, Col as ColE, Star

    def names_of(projs):
        out = []
        for e in projs:
            if isinstance(e, Alias):
                out.append(e.name)
            elif isinstance(e, ColE):
                out.append(e.name)
            elif hasattr(e, "output_name"):
                try:
                    out.append(e.output_name())
                except Exception:  # noqa: BLE001 - name unknown is fine
                    pass
        return out

    if isinstance(p, Project):
        child = _widen_projects(p.input, needed)
        if any(isinstance(e, Star) for e in p.projections):
            return p if child is p.input else Project(child, p.projections)
        have = set(names_of(p.projections))
        missing = [k for k in needed if k not in have]
        if not missing and child is p.input:
            return p
        return Project(child,
                       list(p.projections) + [ColE(k) for k in missing])
    if isinstance(p, (Filter, SubqueryAlias)):
        new_inputs = [_widen_projects(i, needed) for i in p.inputs()]
        if all(n is o for n, o in zip(new_inputs, p.inputs())):
            return p
        return p.with_inputs(new_inputs)
    return p


def _alias_provenance(p: Plan) -> Dict[str, Any]:
    """Every alias bound anywhere in `p`'s relational tree (subquery
    aliases AND scan table names — including below aggregates, where the
    compiled frame has lost its qualifiers), mapped to the column names
    its subtree outputs, or None when they are not statically known.
    Subquery plans inside expressions are a different scope and are NOT
    visited (their aliases must not masquerade as outer bindings)."""
    out: Dict[str, Any] = {}

    def visit(node: Plan) -> None:
        if isinstance(node, SubqueryAlias):
            out[node.alias.lower()] = _plan_output_cols(node.input)
        if isinstance(node, Scan):
            out.setdefault(node.table.local_name.lower(),
                           _plan_output_cols(node))
        if isinstance(node, RemoteQueryNode):
            # a federated claim is still THIS scope: aliases inside it
            # must stay visible to the provenance guard (inputs() is
            # empty on the opaque leaf, so descend explicitly)
            visit(node.plan)
        for i in node.inputs():
            visit(i)

    visit(p)
    return out


def _resolve_outer(outer_df: DataFrame, ref, outer_plan: Plan = None) -> Any:
    """Resolve an OuterRef against the immediate outer frame. Qualified
    references try their alias first — if the alias does not exist on
    this frame the reference belongs to a FARTHER scope (multi-level
    correlation), which a single hoist cannot express: raise instead of
    silently binding a same-named column of the wrong scope.

    When the qualified lookup fails but the bare name is unique on the
    frame (qualifiers are lost when a frame passes through an
    aggregate), uniqueness alone is NOT provenance (ADVICE r4): the one
    surviving column could originate from a different alias than
    ref.table. The fallback binds only when the outer PLAN proves it —
    ref.table is bound in this scope, its subtree can produce ref.name,
    and no other alias in the scope is known to produce that name."""
    if getattr(ref, "table", None):
        try:
            return outer_df[f"{ref.table}.{ref.name}"]
        except Exception as exc:  # noqa: BLE001 - analysis failure

            def bail(why: str):
                raise NotImplementedError(
                    f"correlated reference {ref.table}.{ref.name} "
                    f"cannot bind against the immediate outer scope: "
                    f"{why}") from exc

            try:
                unqual = outer_df[ref.name]
            except Exception:
                bail("the name does not resolve on the outer frame "
                     "(multi-level correlation is not supported)")
            if outer_plan is None:
                bail("no outer-plan provenance available to prove which "
                     "alias the bare column binding originates from")
            prov = _alias_provenance(outer_plan)
            alias = ref.table.lower()
            if alias not in prov:
                bail(f"alias {ref.table!r} is not bound in this scope "
                     "(farther-scope correlation)")
            name = ref.name.lower()
            mine = prov[alias]
            if mine is not None and name not in {c.lower() for c in mine}:
                bail(f"alias {ref.table!r} does not produce a column "
                     f"named {ref.name!r}")
            others = sorted(
                a for a, cols in prov.items()
                if a != alias and cols is not None
                and name in {c.lower() for c in cols})
            if others:
                bail(f"column {ref.name!r} is also produced by "
                     f"alias(es) {others}; the surviving unqualified "
                     "column's provenance cannot be proven")
            return unqual
    return outer_df[ref.name]


def _split_conjuncts(e: Expr):
    from .expressions import BinaryOp
    if isinstance(e, BinaryOp) and e.op.upper() == "AND":
        yield from _split_conjuncts(e.left)
        yield from _split_conjuncts(e.right)
    else:
        yield e


def _extract_correlated(p: Plan):
    """Hoist correlated conjuncts (those containing OuterRef) out of the
    plan's Filter nodes. Returns (correlated_conjuncts, cleaned_plan) —
    the simple decorrelation the reference gets from DataFusion's
    rule pipeline before federation runs.

    Only the Filter/Project/SubqueryAlias spine is traversed: hoisting a
    filter out from BELOW an Aggregate/Distinct/Limit would change which
    rows participate, i.e. silently wrong results. A correlated
    reference below such a node raises instead."""
    from .expressions import BinaryOp, OuterRef, walk
    conds: List[Expr] = []

    def visit(node: Plan) -> Plan:
        if isinstance(node, Filter) and _has_outer_ref(node.predicate):
            parts = list(_split_conjuncts(node.predicate))
            keep = [c for c in parts if not _has_outer_ref(c)]
            conds.extend(c for c in parts if _has_outer_ref(c))
            child = visit(node.input)
            if not keep:
                return child
            pred = keep[0]
            for k in keep[1:]:
                pred = BinaryOp("AND", pred, k)
            return Filter(child, pred)
        if isinstance(node, (Filter, Project, SubqueryAlias)):
            new_inputs = [visit(i) for i in node.inputs()]
            if any(n is not o for n, o in zip(new_inputs, node.inputs())):
                return node.with_inputs(new_inputs)
            return node
        # below any other node (Aggregate/Distinct/Limit/Join/...) a
        # correlated reference cannot be hoisted soundly
        from .plans.nodes import walk_plan
        for sub in walk_plan(node):
            for e in sub.exprs():
                if any(isinstance(x, OuterRef) for x in walk(e)):
                    raise NotImplementedError(
                        "correlated reference below a "
                        f"{type(node).__name__} cannot be decorrelated "
                        "by conjunct hoisting")
        return node

    return conds, visit(p)


def _corr_to_spark(e: Expr, outer_df: DataFrame, sub_df: DataFrame,
                   outer_plan: Plan = None):
    """Render a correlated predicate as a Spark join condition: OuterRef
    columns resolve against the outer DataFrame, plain columns against
    the subquery DataFrame (disambiguates colliding names)."""
    from .expressions import (
        Between, BinaryOp, Col, InList, IsNotNull, IsNull, Lit, Not,
        OuterRef)
    if isinstance(e, OuterRef):
        return _resolve_outer(outer_df, e, outer_plan)
    if isinstance(e, Col):
        return sub_df[e.name]
    if isinstance(e, Lit):
        return F.lit(e.value)
    if isinstance(e, BinaryOp):
        from .expressions import _SQL_TO_SPARK_BIN
        return _SQL_TO_SPARK_BIN[e.op.upper()](
            _corr_to_spark(e.left, outer_df, sub_df, outer_plan),
            _corr_to_spark(e.right, outer_df, sub_df, outer_plan))
    if isinstance(e, Not):
        return ~_corr_to_spark(e.expr, outer_df, sub_df, outer_plan)
    if isinstance(e, IsNull):
        return _corr_to_spark(e.expr, outer_df, sub_df, outer_plan).isNull()
    if isinstance(e, IsNotNull):
        return _corr_to_spark(
            e.expr, outer_df, sub_df, outer_plan).isNotNull()
    if isinstance(e, Between):
        return _corr_to_spark(e.expr, outer_df, sub_df, outer_plan).between(
            _corr_to_spark(e.low, outer_df, sub_df, outer_plan),
            _corr_to_spark(e.high, outer_df, sub_df, outer_plan))
    raise NotImplementedError(
        f"correlated predicate form {type(e).__name__} not supported")


def _cast_changes(actual, expected) -> bool:
    """Whether casting ``actual`` to ``expected`` renames or retypes a
    column. Nullability is not compared: the cast keeps the source's."""
    return ([(f.name, f.dataType) for f in actual.fields]
            != [(f.name, f.dataType) for f in expected.fields])


def _pivot_value_name(v) -> str:
    """Spark's pivot() names output columns after the VALUE's Spark
    string form — booleans render 'true'/'false', not Python's
    str(True)='True' (ADVICE r10 #1: the repr divergence made the
    compiler's name-reconstruction miss the column, silently skipping
    both the COUNT zero-coalesce and the {value}_{alias} rename).
    NULL renders 'null' — Spark's own name for a None pivot value
    (ADVICE r11 #2: Python's str(None)='None' matched neither Spark's
    'null' nor DuckDB's 'NULL'; 'null' equals DuckDB's name
    case-insensitively, which is how SQL identifiers compare)."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    return str(v)


def _plan_output_cols(p: Plan):
    """Output column names of a plan, or None if unknown (Star etc.)."""
    if isinstance(p, Project):
        names = []
        for e in p.projections:
            if isinstance(e, Star):
                if e.table is not None:
                    # per-relation column lists aren't tracked
                    return None
                inner = _plan_output_cols(p.input)
                if inner is None:
                    return None
                excl = {c.lower() for c in e.exclude}
                # REPLACE keeps names/positions; EXCEPT drops columns
                names += [c for c in inner if c.lower() not in excl]
            else:
                n = e.output_name()
                if n == "*":
                    return None
                names.append(n)
        return names
    if isinstance(p, Aggregate):
        return [e.output_name()
                for e in list(p.group_by) + list(p.aggregates)]
    if isinstance(p, Scan):
        if p.projection:
            return list(p.projection)
        if p.table.schema is not None:
            return [f.name for f in p.table.schema.fields]
        return None
    if isinstance(p, (Union, SetOp)):
        return _plan_output_cols(p.inputs()[0])
    from .plans.nodes import SeriesScan as _SS
    if isinstance(p, _SS):
        return [p.col]
    if isinstance(p, AsofJoin):
        # like Join: the output spans both sides (left cols + carried
        # right cols) — the generic first-input fallthrough would hide
        # the right side and let push_filters misattribute an ambiguous
        # bare ref to the OTHER join side (review r5, reproduced)
        return None
    if isinstance(p, Join):
        # a join outputs BOTH sides; returning one side would let the
        # runtime-filter optimizer misattribute a key column — unknown
        # is the safe answer
        return None
    if isinstance(p, Window):
        # window APPENDS its aliased columns to the input's output —
        # falling through to inputs[0] would hide them from the
        # provenance guard (review r5: both false rejection of
        # window-produced refs and wrong-scope binding were possible)
        inner = _plan_output_cols(p.input)
        if inner is None:
            return None
        names = list(inner)
        from .expressions import Alias as _AliasE
        for e in p.window_exprs:
            if not isinstance(e, _AliasE):
                # a bare window expr has no reliable name — the base
                # output_name() fallback returns the literal "expr",
                # which would poison provenance; unknown is the safe
                # answer (review r5)
                return None
            names.append(e.name)
        return names
    if isinstance(p, RemoteQueryNode):
        # opaque federated leaf: its output is the claimed sub-plan's
        return _plan_output_cols(p.plan)
    if isinstance(p, RecursiveCTE):
        # declared column list wins; otherwise the non-recursive term
        # names the output (Postgres/DuckDB rule)
        return list(p.cols) if p.cols is not None \
            else _plan_output_cols(p.base)
    if isinstance(p, RecursiveRef):
        # working-table leaf: schema exists only mid-fixpoint — unknown
        # is the safe static answer
        return None
    from .plans.nodes import Pivot as _Pv, Unpivot as _Uv
    if isinstance(p, _Pv):
        # r10 (bare-pivot fuzzer catch, first run): the generic
        # first-input fallthrough returned the pivot INPUT's columns,
        # so ORDER BY ALL over a pivoted CTE sorted by columns the
        # output no longer has. Explicit-list pivots have a static
        # output (ids + one column per value, named by the value);
        # implicit discovery resolves at compile time -> unknown.
        if p.values is None:
            return None
        inner = _plan_output_cols(p.input)
        if inner is None:
            return None
        from .expressions import Alias as _AliasE2, walk as _walkE
        # r11 (ADVICE r10 #4): mirror the compiler's naming rules for
        # the aliased/multi-agg forms instead of walking p.agg
        # unconditionally (p.agg is None when p.aggs is set — the old
        # branch crashed on walk(None)) and value-name columns that
        # actually carry a {value}_{alias} suffix.
        agg_list = list(p.aggs) if p.aggs is not None else [p.agg]
        agg_refs = {x.name for a in agg_list for x in _walkE(a)
                    if isinstance(x, Col)}
        ids = [c for c in inner
               if c != p.pivot_col and c not in agg_refs]
        vnames = [_pivot_value_name(v) for v in p.values]
        if p.aggs is not None:
            if not all(isinstance(a, _AliasE2) for a in agg_list):
                return None          # un-aliased multi-agg: unknown
            out = ids + [f"{v}_{a.name}" for v in vnames
                         for a in agg_list]
        elif isinstance(p.agg, _AliasE2):
            out = ids + [f"{v}_{p.agg.name}" for v in vnames]
        else:
            out = ids + vnames
        low = [c.lower() for c in out]
        if len(set(low)) != len(low):
            # a value name colliding with an id (or another value)
            # takes the compiler's _1/_2 dedup — not modeled here, so
            # unknown is the safe static answer (r11)
            return None
        return out
    if isinstance(p, _Uv):
        inner = _plan_output_cols(p.input)
        if inner is None:
            return None
        dropped = {c.lower() for c in p.cols}
        return [c for c in inner if c.lower() not in dropped] \
            + [p.name_col, p.value_col]
    inputs = p.inputs()
    return _plan_output_cols(inputs[0]) if inputs else None


def _stabilize_first_output(p: Plan, remote_schema):
    """(plan, first-output-name) with the name GUARANTEED to exist on
    the compiled frame: a bare-expression first projection/aggregate
    gets an explicit ``__qv`` alias (Spark auto-names unaliased
    expressions after their SQL text, so output_name()'s "expr"
    fallback never resolves — r9, quantifier-rewrite fix). Named outputs
    pass through; a federated node's come from ``remote_schema(node)``."""
    from .expressions import Alias as _A, Col as _C

    if isinstance(p, SubqueryAlias):
        inner, col = _stabilize_first_output(p.input, remote_schema)
        if inner is p.input:
            return p, col
        return SubqueryAlias(inner, p.alias), col
    if isinstance(p, Project) and p.projections:
        e0 = p.projections[0]
        if isinstance(e0, (_A, _C)):
            return p, e0.output_name()
        if isinstance(e0, Star):
            return p, _plan_output_col(p, remote_schema)
        return (Project(p.input, [_A(e0, "__qv"),
                                  *list(p.projections)[1:]]), "__qv")
    if isinstance(p, Aggregate):
        out = list(p.group_by) + list(p.aggregates)
        if out and not isinstance(out[0], (_A, _C)):
            if not p.group_by:
                return (Aggregate(p.input, [],
                                  [_A(p.aggregates[0], "__qv"),
                                   *list(p.aggregates)[1:]],
                                  p.having), "__qv")
            # r10 (ADVICE r9 #4): a GROUPED aggregate whose first group
            # key is a bare expression (ANY (SELECT x % 2 FROM t GROUP
            # BY x % 2)) needs the same alias — plain group keys keep
            # aliases inline in _grouping, so relabeling is safe, but
            # grouping-set forms (Rollup/Cube/GroupingSets) apply
            # labels post-agg; leave those to _plan_output_col.
            g0 = p.group_by[0]
            if not isinstance(g0, (Rollup, Cube, GroupingSets)):
                return (Aggregate(p.input,
                                  [_A(g0, "__qv"),
                                   *list(p.group_by)[1:]],
                                  list(p.aggregates), p.having), "__qv")
        return p, _plan_output_col(p, remote_schema)
    return p, _plan_output_col(p, remote_schema)


def _plan_output_col(p: Plan, remote_schema) -> str:
    """First output column name of a sub-plan (for quantifier rewrites)."""
    if isinstance(p, Project):
        return p.projections[0].output_name()
    if isinstance(p, Aggregate):
        out = list(p.group_by) + list(p.aggregates)
        return out[0].output_name()
    if isinstance(p, Scan) and p.projection:
        return p.projection[0]
    if isinstance(p, RemoteQueryNode):
        schema = remote_schema(p)   # None: uncast, the remote's names
        return (schema.fields[0].name if schema is not None
                else _plan_output_col(p.plan, remote_schema))
    inputs = p.inputs()
    if inputs:
        return _plan_output_col(inputs[0], remote_schema)
    raise ValueError(f"cannot infer output column of {type(p).__name__}")


def _rewrite_expr(e: Expr, fn) -> Expr:
    """Bottom-up expression rewrite (immutable nodes rebuilt via dataclass
    field replacement where needed)."""
    import dataclasses
    new = fn(e)
    if new is not e:
        return new
    if not dataclasses.is_dataclass(e):
        return e
    changed = False
    updates = {}
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        if isinstance(v, Expr):
            nv = _rewrite_expr(v, fn)
            if nv is not v:
                updates[f.name] = nv
                changed = True
        elif isinstance(v, (list, tuple)):
            nl = []
            item_changed = False
            for item in v:
                if isinstance(item, Expr):
                    ni = _rewrite_expr(item, fn)
                    item_changed = item_changed or ni is not item
                    nl.append(ni)
                elif (isinstance(item, tuple) and len(item) == 2
                      and all(isinstance(x, Expr) for x in item)):
                    a = _rewrite_expr(item[0], fn)
                    b = _rewrite_expr(item[1], fn)
                    item_changed = item_changed or a is not item[0] or b is not item[1]
                    nl.append((a, b))
                else:
                    nl.append(item)
            if item_changed:
                updates[f.name] = type(v)(nl) if isinstance(v, tuple) else nl
                changed = True
    if changed:
        return dataclasses.replace(e, **updates)
    return e
