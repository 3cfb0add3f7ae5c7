"""Correlated scalar-subquery decorrelation (TPC-H Q2/Q17/Q22 shapes).

The reference forces correlated subtrees to stay local
(optimizer/mod.rs:114-120) and relies on DataFusion's analyzer to
decorrelate; our compiler lowers the ungrouped correlated aggregate
through the kernel LATERAL aggregate bodies share (compiler.py
_decorrelate_agg, reached via _attach_correlated_scalar): a GROUP BY
over the correlation keys (or, with a theta residue, over the DISTINCT
outer tuples) LEFT-joined to the outer rows, a missing group taking the
aggregates evaluated over an empty input. These tests pin the rewrite
against DuckDB running the identical SQL.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import TESTDATA


def _engine(spark, tables):
    from datafusion_federation_spark import FederationEngine
    eng = FederationEngine(spark)
    for t in tables:
        eng.register_local_parquet(t, f"{TESTDATA}/{t}.parquet")
    return eng


def _duck(sql, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{TESTDATA}/{t}.parquet'")
    return con.execute(sql).fetchall()


def test_correlated_max_equality(spark):
    """s_acctbal = (SELECT MAX(...) WHERE inner.k = outer.k): every
    supplier row survives iff it holds its nation's max balance."""
    sql = """
    SELECT s.s_suppkey
    FROM supplier s
    WHERE s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    ORDER BY s.s_suppkey
    """
    got = [r[0] for r in _engine(spark, ["supplier"]).sql(sql).collect()]
    want = [r[0] for r in _duck(sql, ["supplier"])]
    assert got == want and len(got) > 0


def test_correlated_avg_arithmetic(spark):
    """Arithmetic over the correlated aggregate (0.5 * AVG) — the Q17
    shape; the computed expression rides through the grouped rewrite."""
    sql = """
    SELECT COUNT(*) AS n
    FROM lineitem l
    WHERE l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """
    got = _engine(spark, ["lineitem"]).sql(sql).collect()[0][0]
    want = _duck(sql, ["lineitem"])[0][0]
    assert got == want and got > 0


def test_correlated_count_coalesces_to_zero(spark):
    """COUNT over an empty correlated set must be 0, not NULL (the LEFT
    join produces NULL; a missing group takes the aggregates evaluated
    over an empty input)."""
    from pyspark.sql import functions as F
    eng = _engine(spark, ["customer", "orders"])
    df = eng.sql("""
    SELECT c.c_custkey,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c
    """)
    assert df.filter(F.col("n_orders").isNull()).count() == 0
    # spot-check totals against the plain grouped aggregate
    total = df.agg(F.sum("n_orders")).collect()[0][0]
    n_orders = spark.read.parquet(f"{TESTDATA}/orders.parquet").count()
    # every order belongs to an existing customer in the fixture
    assert total == n_orders


def test_correlated_quantified_all_shares_one_subquery(spark):
    """`>= ALL (correlated)` rewrites to TWO ScalarSubquery references
    (max + count) over ONE shared Aggregate plan; the decorrelation must
    join that grouped plan once — and the quantifier's internal Project
    (only the compared column) must be widened with the correlation key.
    Values pinned against DuckDB running the identical SQL."""
    sql = """
    SELECT s.s_suppkey
    FROM supplier s
    WHERE s.s_acctbal >= ALL (SELECT s2.s_acctbal FROM supplier s2
                              WHERE s2.s_nationkey = s.s_nationkey)
    ORDER BY s.s_suppkey
    """
    df = _engine(spark, ["supplier"]).sql(sql)
    got = [r[0] for r in df.collect()]
    want = [r[0] for r in _duck(sql, ["supplier"])]
    assert got == want and len(got) > 0
    # exactly one helper-join of the shared grouped subquery in the plan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("__sq0_k0") > 0 and "__sq1" not in plan


def test_correlated_count_nested_in_expression(spark):
    """COUNT nested inside arithmetic (COUNT(*) + 1) must evaluate the
    whole expression over the empty set on no-match (=1), not NULL."""
    sql = """
    SELECT c.c_custkey,
           (SELECT COUNT(*) + 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice < 0.0) AS n_plus
    FROM customer c
    ORDER BY c.c_custkey
    """
    df = _engine(spark, ["customer", "orders"]).sql(sql)
    got = [(r[0], r[1]) for r in df.collect()]
    want = [(r[0], r[1]) for r in _duck(sql, ["customer", "orders"])]
    assert got == want
    assert all(v == 1 for _, v in got)   # empty set -> COUNT(*)+1 = 1


def test_builder_having_scalar_subquery(spark):
    """Aggregate.having with a scalar subquery through the BUILDER path
    (sqlfront lowers HAVING to a Filter, so this branch is only
    reachable from hand-built plans)."""
    from datafusion_federation_spark.compiler import Compiler
    from datafusion_federation_spark.expressions import (
        AggFunc, Alias, BinaryOp, Col, ScalarSubquery)
    from datafusion_federation_spark.plans.nodes import Aggregate, Scan
    from datafusion_federation_spark.sources.table import TableHandle

    spark.read.parquet(f"{TESTDATA}/orders.parquet") \
        .createOrReplaceTempView("orders_b")
    t = TableHandle(local_name="orders_b", provider=None)
    inner = Aggregate(Scan(t), [],
                      [Alias(AggFunc("avg", [Col("o_totalprice")]),
                             "avg_tp")])
    # builder contract: HAVING references the aggregate's OUTPUT columns
    # (sqlfront rewrites agg calls to aliases before it gets here)
    plan = Aggregate(
        Scan(t), [Col("o_custkey")],
        [Alias(AggFunc("sum", [Col("o_totalprice")]), "tot")],
        having=BinaryOp(">", Col("tot"),
                        ScalarSubquery(inner, column="avg_tp")))
    df = Compiler(spark).compile(plan)
    rows = df.collect()
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{TESTDATA}/orders.parquet'")
    want = con.execute(
        "SELECT o_custkey, SUM(o_totalprice) AS tot FROM orders "
        "GROUP BY o_custkey "
        "HAVING SUM(o_totalprice) > (SELECT AVG(o_totalprice) "
        "FROM orders)").fetchall()
    assert sorted((r["o_custkey"], round(r["tot"], 6)) for r in rows) \
        == sorted((k, round(v, 6)) for k, v in want)
    assert len(rows) > 0


def test_correlated_non_equi_in_where_bnl(spark):
    """r10: a non-equi correlated scalar in WHERE (inner.k > outer.k)
    — previously refused — now takes the size-gated broadcast nested
    loop and must match DuckDB exactly (NULL AVG over the empty theta
    set makes the comparison UNKNOWN: those rows drop)."""
    sql = """
    SELECT s.s_suppkey FROM supplier s
    WHERE s.s_acctbal > (SELECT AVG(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey > s.s_nationkey)
    ORDER BY s.s_suppkey"""
    eng = _engine(spark, ["supplier"])
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [r[0] for r in _duck(sql, ["supplier"])]


def test_having_uncorrelated_scalar_subquery(spark):
    """HAVING SUM(...) > (SELECT ...) — the Q11 shape — attaches the
    subquery on the aggregated frame."""
    sql = """
    SELECT l.l_partkey,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem l
    GROUP BY l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS BIGINT)) >
           (SELECT 0.001 * SUM(CAST(l2.l_quantity AS BIGINT))
            FROM lineitem l2)
    ORDER BY l.l_partkey
    """
    got = [(r[0], r[1]) for r in
           _engine(spark, ["lineitem"]).sql(sql).collect()]
    want = [(r[0], r[1]) for r in _duck(sql, ["lineitem"])]
    assert got == want and len(got) > 0


def test_correlated_ref_inside_nested_exists_refused(spark):
    """An outer reference hidden INSIDE a nested EXISTS must not take
    the uncorrelated broadcast path (it would silently rebind to a
    same-named column of the inner frame — verified against DuckDB,
    which returns per-customer 0/150 where the old path returned a
    constant). Until true multi-level decorrelation exists, this
    raises."""
    eng = _engine(spark, ["customer", "orders"])
    with pytest.raises(Exception, match="correlat"):
        eng.sql("""
        SELECT c.c_custkey,
               (SELECT COUNT(*) FROM customer c2
                WHERE EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderkey < 100)) AS n
        FROM customer c
        """).collect()


def test_correlated_scalar_with_internal_subquery_still_works(spark):
    """A scalar subquery whose ONLY correlation is internal (the nested
    EXISTS binds the scalar's own scope) stays on the uncorrelated
    path and matches DuckDB."""
    sql = """
    SELECT (SELECT COUNT(*) FROM orders o
            WHERE EXISTS (SELECT 1 FROM customer c2
                          WHERE c2.c_custkey = o.o_custkey
                            AND c2.c_acctbal > 5000.0)) AS n
    """
    got = _engine(spark, ["customer", "orders"]).sql(sql).collect()[0][0]
    want = _duck(sql, ["customer", "orders"])[0][0]
    assert got == want and got > 0


def test_correlated_scalar_nonstrict_wrapper_empty_set(spark):
    """COALESCE(SUM(x), 0) over an empty correlated set is 0, not NULL
    (the empty-set value of the WHOLE item is computed, not only for
    bare COUNTs)."""
    sql = """
    SELECT c.c_custkey,
           (SELECT COALESCE(SUM(o.o_totalprice), 0.0) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice < 0.0) AS guarded
    FROM customer c
    ORDER BY c.c_custkey
    """
    df = _engine(spark, ["customer", "orders"]).sql(sql)
    got = [(r[0], r[1]) for r in df.collect()]
    want = [(r[0], r[1]) for r in _duck(sql, ["customer", "orders"])]
    assert got == want
    assert all(v == 0.0 for _, v in got)


def test_correlated_ref_foreign_alias_raises(spark):
    """ADVICE r4 (provenance): when the qualified outer lookup fails and
    the bare name is unique on the frame, the old fallback bound it even
    if the reference's alias was never in scope — silently correlating
    on the WRONG column. The guard must raise instead."""
    from pyspark.sql import Row
    spark.createDataFrame([Row(k=1, v=2)]) \
        .createOrReplaceTempView("prov_a")
    spark.createDataFrame([Row(k=1)]) \
        .createOrReplaceTempView("prov_b")
    from datafusion_federation_spark.compiler import Compiler
    from datafusion_federation_spark.expressions import (
        AggFunc, Alias, BinaryOp, Col, Exists, OuterRef)
    from datafusion_federation_spark.plans.nodes import (
        Aggregate, Filter, Project, Scan, SubqueryAlias)
    from datafusion_federation_spark.sources.table import TableHandle
    ta = TableHandle(local_name="prov_a", provider=None)
    tb = TableHandle(local_name="prov_b", provider=None)
    # outer frame passes through an aggregate, so alias qualifiers are
    # lost; the subquery correlates on zz.k but no alias 'zz' is bound
    # anywhere in this scope — the surviving bare 'k' belongs to 'a'
    outer = Aggregate(SubqueryAlias(Scan(ta), "a"), [Col("k")],
                      [Alias(AggFunc("count", []), "n")])
    sub = Filter(Scan(tb),
                 BinaryOp("=", Col("k"), OuterRef("k", table="zz")))
    plan = Filter(outer, Exists(Project(sub, [Col("k")])))
    with pytest.raises(NotImplementedError, match="zz"):
        Compiler(spark).compile(plan).collect()
    # the SAME shape with the alias actually in scope still decorrelates
    ok = Filter(outer, Exists(Project(
        Filter(Scan(tb),
               BinaryOp("=", Col("k"), OuterRef("k", table="a"))),
        [Col("k")])))
    rows = Compiler(spark).compile(ok).collect()
    assert [tuple(r) for r in rows] == [(1, 1)]


def test_not_in_subquery_plans_equi_anti(spark):
    """100 TB posture (ADVICE r4): null-aware NOT IN must compile to an
    EQUALITY anti join (hash-joinable), not a broadcast-nested-loop over
    the whole subquery. The only nested loop allowed is the 1-row
    (count, non-null count) gate — a LeftAnti BNL is the O(outer x sub)
    shape this rewrite exists to avoid."""
    from pyspark.sql import Row
    spark.createDataFrame([Row(k=i) for i in range(100)]) \
        .createOrReplaceTempView("ninp_a")
    spark.createDataFrame([Row(k=i) for i in range(50)]) \
        .createOrReplaceTempView("ninp_b")
    from datafusion_federation_spark.compiler import Compiler
    from datafusion_federation_spark.expressions import Col, InSubquery
    from datafusion_federation_spark.plans.nodes import (
        Filter, Project, Scan)
    from datafusion_federation_spark.sources.table import TableHandle
    ta = TableHandle(local_name="ninp_a", provider=None)
    tb = TableHandle(local_name="ninp_b", provider=None)
    plan = Project(
        Filter(Scan(ta),
               InSubquery(Col("k"), Project(Scan(tb), [Col("k")]),
                          negated=True)),
        [Col("k")])
    df = Compiler(spark).compile(plan)
    physical = df._jdf.queryExecution().executedPlan().toString()
    for line in physical.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "LeftAnti" not in line, physical
    assert sorted(r[0] for r in df.collect()) == list(range(50, 100))


def test_not_in_subquery_null_aware(spark):
    """Three-valued NOT IN: one NULL in the subquery empties the result
    — matching both SQL semantics and what a federated remote engine
    computes for the identical query."""
    from pyspark.sql import Row
    spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)]) \
        .createOrReplaceTempView("nin_a")
    spark.createDataFrame([Row(k=1), Row(k=None)]) \
        .createOrReplaceTempView("nin_b")
    # compile the plan IR directly over the temp views
    from datafusion_federation_spark.compiler import Compiler
    from datafusion_federation_spark.expressions import Col, InSubquery
    from datafusion_federation_spark.plans.nodes import (
        Filter, Project, Scan)
    from datafusion_federation_spark.sources.table import TableHandle
    ta = TableHandle(local_name="nin_a", provider=None)
    tb = TableHandle(local_name="nin_b", provider=None)
    plan = Project(
        Filter(Scan(ta),
               InSubquery(Col("k"), Project(Scan(tb), [Col("k")]),
                          negated=True)),
        [Col("k")])
    rows = Compiler(spark).compile(plan).collect()
    assert rows == []          # NULL in subquery -> empty result
    # and without the NULL, the anti join behaves classically
    spark.createDataFrame([Row(k=1)]).createOrReplaceTempView("nin_b")
    rows2 = sorted(r[0] for r in Compiler(spark).compile(plan).collect())
    assert rows2 == [2, 3]


def test_correlated_not_in_three_valued(spark):
    """Correlated NOT IN per-group 3VL (r5, the local-path gap the SQL
    fuzzer exposed): a NULL in the row's OWN group poisons it, a
    different row's group is unaffected, an empty group keeps the row.
    The subquery column stays bare so the decorrelation path (three
    equi-keyed anti joins) engages."""
    sql = """
    SELECT a.n_nationkey FROM nation a
    WHERE a.n_nationkey + 30 NOT IN
      (SELECT b.n_nationkey FROM nation b
       WHERE b.n_regionkey = a.n_regionkey AND b.n_nationkey > 20)
    ORDER BY a.n_nationkey
    """
    got = [r[0] for r in _engine(spark, ["nation"]).sql(sql).collect()]
    want = [r[0] for r in _duck(sql, ["nation"])]
    assert got == want and len(got) > 0


def test_correlated_in_positive(spark):
    sql = """
    SELECT a.n_nationkey FROM nation a
    WHERE a.n_nationkey IN
      (SELECT b.n_nationkey FROM nation b
       WHERE b.n_regionkey = a.n_regionkey AND b.n_nationkey <= 10)
    ORDER BY a.n_nationkey
    """
    got = [r[0] for r in _engine(spark, ["nation"]).sql(sql).collect()]
    want = [r[0] for r in _duck(sql, ["nation"])]
    assert got == want and len(got) > 0


def test_correlated_not_in_plans_hash_anti_joins(spark):
    """The 3VL correlated NOT IN must stay hash-joinable: three LEFT
    ANTI hash joins, zero nested loops (100 TB posture for the r5
    decorrelation)."""
    sql = """
    SELECT a.n_nationkey FROM nation a
    WHERE a.n_nationkey NOT IN
      (SELECT b.n_nationkey FROM nation b
       WHERE b.n_regionkey = a.n_regionkey AND b.n_nationkey > 20)
    """
    p = (_engine(spark, ["nation"]).sql(sql)
         ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("LeftAnti") == 3


def test_correlated_not_in_unqualified_probe(spark):
    """Unqualified probe column sharing its name with a subquery column
    (regression: the join condition was AMBIGUOUS_REFERENCE; the probe
    is now materialized on the outer frame first)."""
    sql = """
    SELECT n_nationkey FROM nation a
    WHERE n_nationkey NOT IN
      (SELECT b.n_nationkey FROM nation b
       WHERE b.n_regionkey = a.n_regionkey AND b.n_nationkey > 20)
    ORDER BY n_nationkey
    """
    got = [r[0] for r in _engine(spark, ["nation"]).sql(sql).collect()]
    want = [r[0] for r in _duck(sql, ["nation"])]
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# r9: theta + expression-keyed correlated scalar aggregates (graduated
# from the equi-only refusal via the lateral machinery's keyed rewrite)
# ---------------------------------------------------------------------------

def test_correlated_scalar_theta_residue(spark):
    """Equality key + inequality residue: orders above the customer's
    own scaled balance — the theta filter is per-outer-row, so the
    grouped-by-inner-key shortcut is invalid and the keyed rewrite
    must engage. Empty sets give COUNT=0."""
    sql = """
    SELECT c_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > c.c_acctbal * 200) AS n
    FROM customer c WHERE c_custkey < 60 ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = _duck(sql, ["customer", "orders"])
    assert got == want and any(r[1] == 0 for r in got) \
        and any(r[1] > 0 for r in got)


def test_correlated_scalar_theta_strict_agg_null(spark):
    # MAX over an empty theta-filtered set stays NULL (strict agg)
    sql = """
    SELECT c_custkey,
           (SELECT MAX(o.o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice < c.c_acctbal / 1000) AS m
    FROM customer c WHERE c_custkey < 40 ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [(r[0], None if r[1] is None else round(float(r[1]), 2))
           for r in eng.sql(sql).collect()]
    want = [(k, None if v is None else round(float(v), 2))
            for k, v in _duck(sql, ["customer", "orders"])]
    assert got == want and any(v is None for _, v in got)


def test_correlated_scalar_expression_outer_key(spark):
    sql = """
    SELECT c_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey = c.c_custkey % 100) AS n
    FROM customer c WHERE c_custkey < 30 ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == _duck(sql, ["customer", "orders"])


def test_correlated_scalar_pure_theta_refuses_above_gate(spark):
    # r10: the refusal survives ONLY above the BNL size gate — below
    # it the broadcast-nested-loop path runs (next test)
    eng = _engine(spark, ["customer", "orders"])
    eng.compiler.theta_bnl_rows = 100
    try:
        with pytest.raises(NotImplementedError, match="equality"):
            eng.sql("""
            SELECT c_custkey,
                   (SELECT COUNT(*) FROM orders o
                    WHERE o.o_totalprice > c.c_acctbal) AS n
            FROM customer c""").collect()
    finally:
        eng.compiler.theta_bnl_rows = 10_000


def test_correlated_scalar_pure_theta_bnl(spark):
    """r10 (VERDICT r9 Next #4): pure-theta correlated scalar
    aggregate — size-gated broadcast nested loop, exact vs DuckDB
    including empty-set COUNT=0 rows."""
    sql = """
    SELECT c_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_totalprice > c.c_acctbal * 60) AS n
    FROM customer c WHERE c_custkey < 40 ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    df = eng.sql(sql)
    got = [tuple(r) for r in df.collect()]
    assert got == _duck(sql, ["customer", "orders"])
    assert any(r[1] == 0 for r in got), "empty-set COUNT=0 exercised"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_any_with_expression_body(spark):
    """r9 fix: `< ANY (SELECT expr ...)` with a BARE expression body
    failed with UNRESOLVED_COLUMN `expr` — the quantifier rewrite
    referenced output_name()'s fallback label, which Spark never
    assigns (it auto-names unaliased expressions after their SQL
    text). The first output is now explicitly aliased."""
    sql = """
    SELECT c_custkey FROM customer c WHERE c_acctbal < ANY
    (SELECT o_totalprice / 100 FROM orders o
     WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [r[0] for r in _duck(sql, ["customer", "orders"])]
    assert got, "non-vacuous"


def test_any_with_theta_correlation(spark):
    """theta conjunct inside the ANY body: the quantifier rewrite's
    scalar MAX subquery flows through the r9 theta-capable
    decorrelation end to end."""
    sql = """
    SELECT c_custkey FROM customer c WHERE c_acctbal < ANY
    (SELECT o_totalprice / 100 FROM orders o
     WHERE o.o_custkey = c.c_custkey AND o.o_orderkey > c.c_custkey)
    ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [r[0] for r in _duck(sql, ["customer", "orders"])]
    assert got


def test_all_empty_set_identity_with_expression_body(spark):
    # x > ALL(empty) is TRUE: the count guard must survive the aliasing
    sql = """
    SELECT c_custkey FROM customer c WHERE c_acctbal > ALL
    (SELECT o_totalprice * 2 FROM orders o
     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 0)
    ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [r[0] for r in _duck(sql, ["customer", "orders"])]
    assert len(got) == 150, "every customer passes the empty-set ALL"


def test_any_grouped_bare_expression_group_key(spark):
    """r10 (ADVICE r9 #4): ANY over a grouped body whose first (only)
    group key is a bare expression — _stabilize_first_output now
    aliases the group key too, not just ungrouped aggregates.
    (`= ANY` lowers to IN and skips the quantifier rewrite, so the
    test uses `<` — verified failing pre-fix with UNRESOLVED_COLUMN.)"""
    sql = """
    SELECT c_custkey FROM customer c WHERE c_custkey < ANY
    (SELECT o_orderkey % 50 FROM orders GROUP BY o_orderkey % 50)
    ORDER BY c_custkey"""
    eng = _engine(spark, ["customer", "orders"])
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [r[0] for r in _duck(sql, ["customer", "orders"])]
    assert got, "non-vacuous"


def test_pure_theta_probe_memoized_for_repeated_body(spark):
    """r11 (VERDICT r10 Next #7): the BNL size probe is one bounded
    Spark job — a statement where the SAME pure-theta subquery body
    appears twice must pay it ONCE (verdict memoized on the body's
    structural plan), and a recompile of the same statement against
    the same registered tables must pay zero more."""
    eng = _engine(spark, ["customer", "orders"])
    sql = """
    SELECT c_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_totalprice > c.c_acctbal) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_totalprice > c.c_acctbal) AS n2
    FROM customer c WHERE c_custkey < 20 ORDER BY c_custkey"""
    eng.compiler._bnl_gate_cache.clear()
    eng.compiler._bnl_probe_count = 0
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert eng.compiler._bnl_probe_count == 1
    eng.sql(sql).collect()      # recompile: verdict still cached
    assert eng.compiler._bnl_probe_count == 1
    want = _duck(sql, ["customer", "orders"])
    assert got == want and all(r[1] == r[2] for r in got)


def test_bnl_verdict_cache_invalidated_on_registration(spark):
    """r12 (ADVICE r11 #1 / VERDICT r11 Next #3): the memoized BNL
    small-enough verdict must not survive a registration change — a
    re-registered (grown) table re-probes, so a stale 'small' verdict
    can never broadcast a now-oversized inner."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("c", spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k int, bal double"))
    eng.register_local_df("o", spark.createDataFrame(
        [(i, float(i * 3)) for i in range(8)], "ok int, price double"))
    sql = ("SELECT k, (SELECT CAST(COUNT(*) AS BIGINT) FROM o "
           "WHERE o.price > c.bal) AS n FROM c ORDER BY k")
    eng.compiler._bnl_probe_count = 0
    eng.sql(sql).collect()
    assert eng.compiler._bnl_probe_count == 1
    eng.sql(sql).collect()                    # memo hit
    assert eng.compiler._bnl_probe_count == 1
    eng.compiler.theta_bnl_rows = 10
    eng.register_local_df("o", spark.createDataFrame(
        [(i, float(i * 3)) for i in range(20)], "ok int, price double"))
    # grown past the (lowered) gate: must RE-probe and now refuse
    import pytest as _pt
    with _pt.raises(NotImplementedError, match="provably small"):
        eng.sql(sql).collect()
    assert eng.compiler._bnl_probe_count == 2


# ---------------------------------------------------------------------------
# one decorrelation kernel for scalar subqueries and LATERAL bodies: a
# group whose value is NULL is not a missing group, a NULL theta operand
# still finds its group, and an empty group takes the aggregates over an
# empty input (not a COUNT-to-0 / everything-else-to-NULL guess)
# ---------------------------------------------------------------------------

_A_ROWS = [(0, 1, 1), (1, None, None), (2, 3, 3), (3, 2, 4), (4, 4, 4)]
_B_ROWS = [(1, 10), (2, 20), (3, 30), (4, 40)]


@pytest.fixture(scope="module")
def ab(spark):
    """a(id, k, j) with a NULL key row and b(x, v), local to the engine
    and identical in DuckDB."""
    from datafusion_federation_spark import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("a", spark.createDataFrame(
        _A_ROWS, "id int, k int, j int"))
    eng.register_local_df("b", spark.createDataFrame(
        _B_ROWS, "x int, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE a(id int, k int, j int)")
    con.executemany("INSERT INTO a VALUES (?, ?, ?)", _A_ROWS)
    con.execute("CREATE TABLE b(x int, v int)")
    con.executemany("INSERT INTO b VALUES (?, ?)", _B_ROWS)
    return eng, con


@pytest.mark.parametrize("corr,c", [
    ("s.s_nationkey = n.n_nationkey", 1),
    ("s.s_nationkey = n.n_nationkey AND s.s_suppkey > n.n_regionkey", 1),
    ("s.s_suppkey > n.n_nationkey", 5),
])
def test_correlated_scalar_null_valued_group_is_not_missing(spark, corr, c):
    """nullif(count(*), c) is NULL for a group of exactly c rows. A
    coalesce-based empty-group fixup cannot tell that NULL from a
    missing group and returned 0 — on the equality, equality + theta
    and pure-theta arms alike."""
    sql = f"""
    SELECT n.n_nationkey,
           (SELECT nullif(count(*), {c}) FROM supplier s
            WHERE {corr}) AS v
    FROM nation n ORDER BY n.n_nationkey"""
    got = [tuple(r) for r in
           _engine(spark, ["nation", "supplier"]).sql(sql).collect()]
    want = _duck(sql, ["nation", "supplier"])
    assert got == want
    assert any(v is None for _, v in want), "a NULL-valued group exists"


@pytest.mark.parametrize("sql", [
    "SELECT a.id, (SELECT count(*) FROM b WHERE b.x > coalesce(a.k, 0)) "
    "AS v FROM a ORDER BY a.id",
    "SELECT a.id, (SELECT sum(b.v) FROM b WHERE b.x > a.k OR a.k IS NULL) "
    "AS v FROM a ORDER BY a.id",
])
def test_correlated_scalar_theta_null_outer_operand(ab, sql):
    """A NULL outer operand inside a theta conjunct can still match
    (coalesce, OR ... IS NULL): the group its tuple formed must join
    back null-safe, not vanish under a plain `=`."""
    eng, con = ab
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = con.execute(sql).fetchall()
    assert got == want
    assert dict(want)[1] not in (0, None), "id 1 (k NULL) has a group"


def test_correlated_scalar_collect_list_unmatched_is_empty(spark):
    """collect_list over an empty correlated set is [] — Spark SQL's
    own answer for the identical query, and the LATERAL form's. DuckDB
    disagrees (its list() over no rows is NULL), so the choice is pinned
    here against spark.sql rather than DuckDB."""
    from datafusion_federation_spark import FederationEngine
    a = spark.createDataFrame([(r[0], r[1]) for r in _A_ROWS],
                              "id int, k int")
    b = spark.createDataFrame(_B_ROWS, "x int, v int")
    eng = FederationEngine(spark)
    eng.register_local_df("cl_a", a)
    eng.register_local_df("cl_b", b)      # temp views spark.sql reads
    sql = ("SELECT cl_a.id, (SELECT collect_list(cl_b.v) FROM cl_b "
           "WHERE cl_b.x = cl_a.k) AS v FROM cl_a ORDER BY cl_a.id")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == [tuple(r) for r in spark.sql(sql).collect()]
    assert dict(got)[1] == []                  # k NULL: no group
    lateral = ("SELECT cl_a.id, s.v FROM cl_a LEFT JOIN LATERAL ("
               "SELECT collect_list(cl_b.v) AS v FROM cl_b "
               "WHERE cl_b.x = cl_a.k) s ON TRUE ORDER BY cl_a.id")
    assert [tuple(r) for r in eng.sql(lateral).collect()] == got
    con = duckdb.connect()
    con.execute("CREATE TABLE cl_a(id int, k int)")
    con.executemany("INSERT INTO cl_a VALUES (?, ?)",
                    [(r[0], r[1]) for r in _A_ROWS])
    con.execute("CREATE TABLE cl_b(x int, v int)")
    con.executemany("INSERT INTO cl_b VALUES (?, ?)", _B_ROWS)
    duck = con.execute(sql.replace("collect_list", "list")).fetchall()
    assert dict(duck)[1] is None               # DuckDB: NULL, not []


@pytest.mark.parametrize("form", ["scalar", "lateral"])
def test_duplicate_inner_key_with_theta_residue(ab, form):
    """Two equality pairs on the SAME inner column plus a theta residue:
    each pair keys the outer tuple separately (a row with k <> j has no
    group), in the scalar form and the LATERAL form alike."""
    eng, con = ab
    corr = "b.x = a.k AND b.x = a.j AND b.v > a.id"
    agg = "CAST(count(*) AS BIGINT) AS n, sum(b.v) AS s"
    if form == "scalar":
        sql = (f"SELECT a.id, (SELECT count(*) FROM b WHERE {corr}) AS n, "
               f"(SELECT sum(b.v) FROM b WHERE {corr}) AS s "
               f"FROM a ORDER BY a.id")
    else:
        sql = (f"SELECT a.id, t.n, t.s FROM a LEFT JOIN LATERAL ("
               f"SELECT {agg} FROM b WHERE {corr}) t ON TRUE "
               f"ORDER BY a.id")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = con.execute(sql).fetchall()
    assert got == want
    assert {r[1] for r in want} == {0, 1}, "matched and unmatched rows"



# ---------------------------------------------------------------------------
# correlated EXISTS / (NOT) IN / LATERAL conditions bind through the one
# binder (compiler._bind_correlated): any expression the local path
# compiles may carry the correlation. lineitem is local and orders is
# on DuckDB, so the subquery body is a federated leaf.
# ---------------------------------------------------------------------------

_ABS = "o.o_orderkey = abs(l.l_orderkey)"
_INLIST = "o.o_orderkey = l.l_orderkey AND l.l_returnflag IN ('R', 'A')"


@pytest.mark.parametrize("sql", [
    f"SELECT count(*) FROM lineitem l WHERE EXISTS "
    f"(SELECT 1 FROM orders o WHERE {_ABS})",
    "SELECT count(*) FROM lineitem l WHERE EXISTS (SELECT 1 FROM orders o "
    "WHERE o.o_orderkey = coalesce(l.l_orderkey, 0))",
    "SELECT count(*) FROM lineitem l WHERE EXISTS (SELECT 1 FROM orders o "
    "WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = "
    "CASE WHEN l.l_linestatus = 'F' THEN 'F' ELSE 'O' END)",
    f"SELECT count(*) FROM lineitem l WHERE EXISTS "
    f"(SELECT 1 FROM orders o WHERE {_INLIST})",
    f"SELECT count(*) FROM lineitem l WHERE l.l_suppkey IN "
    f"(SELECT o.o_custkey FROM orders o WHERE {_ABS})",
    f"SELECT count(*) FROM lineitem l WHERE l.l_suppkey NOT IN "
    f"(SELECT o.o_custkey FROM orders o WHERE {_ABS})",
    f"SELECT count(*) FROM lineitem l, LATERAL "
    f"(SELECT o.o_totalprice FROM orders o WHERE {_ABS}) s",
    f"SELECT count(*) FROM lineitem l, LATERAL "
    f"(SELECT o.o_totalprice FROM orders o WHERE {_INLIST}) s",
])
def test_correlation_through_any_expression_matches_duckdb(duckdb_engine,
                                                           sql):
    eng, _ex = duckdb_engine
    # parse, never the Spark SQL view fallback
    got = eng.execute(eng.sql_plan(sql).plan).collect()[0][0]
    want = _duck(sql, ["lineitem", "orders"])[0][0]
    assert got == want and 0 < got


@pytest.mark.parametrize("sql", [
    "SELECT c.c_custkey FROM customer c WHERE EXISTS (SELECT 1 FROM "
    "orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > "
    "c.c_acctbal + (SELECT min(n.n_nationkey) FROM nation n))",
    "SELECT c.c_custkey FROM customer c WHERE c.c_custkey IN (SELECT "
    "o.o_custkey FROM orders o WHERE o.o_totalprice > "
    "c.c_acctbal + (SELECT min(n.n_nationkey) FROM nation n))",
    "SELECT c.c_custkey, s.p FROM customer c, LATERAL (SELECT "
    "o.o_totalprice AS p FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_totalprice > c.c_acctbal + (SELECT min(n.n_nationkey) "
    "FROM nation n)) s",
    "SELECT c.c_custkey, (SELECT count(*) FROM orders o WHERE "
    "o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal + "
    "(SELECT min(n.n_nationkey) FROM nation n)) AS n FROM customer c",
])
def test_subquery_inside_correlated_conjunct_refuses(spark, sql):
    """A subquery inside a correlated conjunct would have to run per
    outer row: every correlated form refuses it."""
    eng = _engine(spark, ["customer", "orders", "nation"])
    with pytest.raises(NotImplementedError,
                       match="correlated conjunct may not contain"):
        eng.execute(eng.sql_plan(sql).plan).collect()
