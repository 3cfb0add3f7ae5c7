"""SQL front door tests: parsing the §2C surface into plan IR, federated
collapse through engine.sql() (the reference's ctx.sql entry point), and
agreement with DuckDB oracles.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest

from datafusion_federation_spark.federation import federate
from datafusion_federation_spark.plans.nodes import (
    Aggregate, Distinct, Filter, Join, Limit, Project, RemoteQueryNode,
    Scan, SetOp, Sort, SubqueryAlias, Union, walk_plan,
)
from datafusion_federation_spark.sqlfront import SqlParseError, parse_sql
from tests.conftest import TESTDATA
from tests.test_unparser_goldens import h as mk_handle


def resolve(name):
    return mk_handle(name.split(".")[-1])


def parse(sql):
    return parse_sql(sql, resolve)


# ---------------------------------------------------------------------------
# parse-shape tests
# ---------------------------------------------------------------------------

def test_parse_select_where():
    p = parse("SELECT a, b FROM t WHERE a > 5")
    assert isinstance(p, Project)
    assert isinstance(p.input, Filter)
    assert isinstance(p.input.input, Scan)


def test_parse_join_agg():
    p = parse("SELECT c, COUNT(*) AS n FROM t JOIN u ON t.x = u.x "
              "GROUP BY c")
    assert isinstance(p, Aggregate)
    assert isinstance(p.input, Join)
    assert p.aggregates[0].name == "n"


def test_parse_union_order_limit():
    p = parse("SELECT a FROM t UNION ALL SELECT a FROM u "
              "ORDER BY a DESC LIMIT 3 OFFSET 1")
    assert isinstance(p, Limit)
    assert p.fetch == 3 and p.skip == 1
    assert isinstance(p.input, Sort)
    assert isinstance(p.input.input, Union)


def test_parse_having_hoists_aggs():
    p = parse("SELECT c, SUM(a) AS s FROM t GROUP BY c "
              "HAVING SUM(a) > 10 AND COUNT(*) > 2")
    # HAVING becomes a Filter above the Aggregate; COUNT(*) not in the
    # select list gets a hidden output + a restoring Project
    assert isinstance(p, Project)
    assert isinstance(p.input, Filter)
    assert isinstance(p.input.input, Aggregate)
    assert [a.name for a in p.input.input.aggregates][:1] == ["s"]


def test_parse_case_between_in_like():
    p = parse("SELECT CASE WHEN a BETWEEN 1 AND 5 THEN 'x' ELSE 'y' END "
              "AS c FROM t WHERE a IN (1, 2) OR b LIKE 'z%'")
    assert isinstance(p, Project)


def test_parse_exists_correlated_outer_ref():
    from datafusion_federation_spark.expressions import Exists, OuterRef, walk
    p = parse("SELECT a FROM t WHERE EXISTS "
              "(SELECT 1 FROM u WHERE u.x = t.x)")
    f = p.input
    assert isinstance(f, Filter) and isinstance(f.predicate, Exists)
    sub_filter = f.predicate.plan.input        # Project(Filter(Scan))
    refs = [n for n in walk(sub_filter.predicate)
            if isinstance(n, OuterRef)]
    assert refs and refs[0].table == "t"


def test_parse_scalar_and_quantified_subqueries():
    from datafusion_federation_spark.expressions import (
        ScalarSubquery, SetComparison, walk)
    p = parse("SELECT a FROM t WHERE a > (SELECT AVG(a) FROM t) "
              "AND a < ANY (SELECT a FROM u)")
    kinds = {type(n) for n in walk(p.input.predicate)}
    assert ScalarSubquery in kinds and SetComparison in kinds


def test_parse_window_function():
    from datafusion_federation_spark.expressions import WindowFunc
    p = parse("SELECT a, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) "
              "AS rk FROM t")
    assert isinstance(p, Project)          # window fn is NOT a group agg
    assert isinstance(p.projections[1].expr, WindowFunc)


def test_parse_rollup_distinct():
    p = parse("SELECT DISTINCT b FROM t")
    assert isinstance(p, Distinct)
    p = parse("SELECT b, COUNT(*) AS n FROM t GROUP BY ROLLUP (b)")
    assert isinstance(p, Aggregate)


def test_parse_rejects_unsupported():
    # (PIVOT graduated from this list in r7 s4 — see the pivot tests)
    with pytest.raises(SqlParseError):
        parse("SELECT a FROM t TABLESAMPLE (10 PERCENT)")
    with pytest.raises(SqlParseError):
        # PIVOT without an explicit literal IN list stays refused
        parse("SELECT a FROM t PIVOT (SUM(b) FOR c IN (d, e))")


def test_parse_cte():
    p = parse("WITH big AS (SELECT a, b FROM t WHERE a > 5) "
              "SELECT b, COUNT(*) AS n FROM big GROUP BY b")
    assert isinstance(p, Aggregate)
    assert isinstance(p.input, SubqueryAlias)
    assert p.input.alias == "big"


def test_parse_group_by_ordinal():
    p = parse("SELECT b, COUNT(*) AS n FROM t GROUP BY 1")
    assert isinstance(p, Aggregate)
    assert p.group_by[0].name == "b"


def test_parse_nonaggregated_column_rejected():
    with pytest.raises(SqlParseError, match="GROUP BY"):
        parse("SELECT a, COUNT(*) FROM t GROUP BY b")


# ---------------------------------------------------------------------------
# end-to-end: engine.sql federates across the whole query
# ---------------------------------------------------------------------------

def _oracle(sql):
    conn = duckdb.connect()
    for t in ("orders", "customer", "nation", "lineitem"):
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{t}.parquet')")
    return sorted(map(tuple, conn.execute(sql).fetchall()))


def test_engine_sql_collapses_join_to_one_remote_query(duckdb_engine):
    eng, ex = duckdb_engine
    sql = ("SELECT c_mktsegment, COUNT(*) AS n FROM orders "
           "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment")
    plan = eng.sql_plan(sql).plan
    fed = federate(plan)
    assert isinstance(fed, RemoteQueryNode), \
        "SQL join of two same-remote tables must collapse to ONE query"
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_engine_sql_mixed_local_remote(duckdb_engine):
    eng, ex = duckdb_engine
    sql = ("SELECT o_orderpriority, COUNT(*) AS n FROM lineitem "
           "JOIN orders ON l_orderkey = o_orderkey "
           "WHERE o_totalprice > 100000 GROUP BY o_orderpriority")
    plan = eng.sql_plan(sql).plan
    fed = federate(plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1               # orders side only
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


@pytest.mark.parametrize("sql", [
    "SELECT o_orderpriority, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total "
    "FROM orders GROUP BY o_orderpriority",

    "SELECT o_orderkey FROM orders WHERE o_totalprice "
    "BETWEEN 100000 AND 200000 ORDER BY o_orderkey LIMIT 10",

    "SELECT c_mktsegment, c_nationkey FROM customer WHERE "
    "c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_acctbal > 0 "
    "ORDER BY c_nationkey, c_mktsegment LIMIT 25",

    "SELECT n_name FROM nation WHERE n_regionkey = 2 "
    "UNION ALL SELECT n_name FROM nation WHERE n_regionkey = 3 "
    "ORDER BY n_name",

    "SELECT o_orderkey FROM orders WHERE o_custkey IN "
    "(SELECT c_custkey FROM customer WHERE c_acctbal > 9000) "
    "ORDER BY o_orderkey LIMIT 50",

    "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > "
    "(SELECT AVG(o_totalprice) FROM orders)",

    "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
    "GROUP BY o_orderpriority HAVING COUNT(*) > 100 "
    "ORDER BY o_orderpriority",

    "SELECT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign, "
    "COUNT(*) AS n FROM customer GROUP BY sign ORDER BY sign",
])
def test_engine_sql_matches_duckdb(duckdb_engine, sql):
    eng, _ = duckdb_engine
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_engine_sql_cte_federates(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("WITH big AS (SELECT o_custkey FROM orders "
           "WHERE o_totalprice > 200000) "
           "SELECT COUNT(*) AS n FROM big")
    plan = eng.sql_plan(sql).plan
    fed = federate(plan)
    assert isinstance(fed, RemoteQueryNode)   # CTE collapses remotely too
    assert [tuple(r) for r in eng.sql(sql).collect()] == _oracle(sql)


def test_engine_sql_fallback_for_unsupported(duckdb_engine):
    eng, _ = duckdb_engine
    # LATERAL VIEW is Spark-only syntax: sqlfront rejects it, the
    # Spark-parser fallback over per-table federated views runs it
    df = eng.sql("SELECT nk, x FROM (SELECT n_nationkey AS nk FROM nation "
                 "WHERE n_nationkey < 2) "
                 "LATERAL VIEW explode(array(1, 2)) t AS x")
    assert df.count() == 4


def test_parse_strips_comments():
    p = parse("SELECT a -- trailing comment\n"
              "FROM t /* block\ncomment */ WHERE a > 1")
    assert isinstance(p, Project)
    assert isinstance(p.input, Filter)


def test_comment_chars_inside_strings_survive():
    p = parse("SELECT a FROM t WHERE b = 'x--y'")
    from datafusion_federation_spark.expressions import Lit, walk
    lits = [n.value for n in walk(p.input.predicate)
            if isinstance(n, Lit)]
    assert "x--y" in lits


def test_qualified_star_select(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT n.* FROM nation n WHERE n.n_regionkey = 1 "
           "ORDER BY n.n_nationkey")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle("SELECT * FROM nation WHERE n_regionkey = 1 "
                          "ORDER BY n_nationkey")


def test_table_alias_and_self_join(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT a.n_name, b.n_name AS other FROM nation a "
           "JOIN nation b ON a.n_regionkey = b.n_regionkey "
           "AND a.n_nationkey < b.n_nationkey "
           "ORDER BY a.n_name, other LIMIT 20")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    conn_rows = _oracle(sql)
    assert sorted(got) == conn_rows


def test_arithmetic_and_concat(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT n_nationkey * 2 + 1 AS k, "
           "n_name || '-' || 'X' AS tag FROM nation "
           "WHERE n_nationkey % 2 = 0 ORDER BY k")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


# ---------------------------------------------------------------------------
# review-pass regressions
# ---------------------------------------------------------------------------

def test_in_subquery_same_column_name(duckdb_engine):
    # `x IN (SELECT x ...)` — the subquery output is renamed internally,
    # so the outer reference is unambiguous
    eng, _ = duckdb_engine
    sql = ("SELECT COUNT(*) AS n FROM customer WHERE c_custkey IN "
           "(SELECT c_custkey FROM customer WHERE c_acctbal > 9000)")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == _oracle(sql)


def test_group_by_no_aggregates(duckdb_engine):
    eng, _ = duckdb_engine
    sql = "SELECT c_mktsegment FROM customer GROUP BY c_mktsegment"
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)
    # exactly one column in the output
    assert len(got[0]) == 1


def test_union_positional_different_names(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT n_nationkey FROM nation WHERE n_regionkey = 0 "
           "UNION ALL SELECT n_regionkey FROM nation WHERE n_nationkey < 3")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_block_comment_inside_string_preserved():
    from datafusion_federation_spark.expressions import Lit, walk
    p = parse("SELECT a FROM t WHERE b = 'x/*not a comment*/y'")
    lits = [n.value for n in walk(p.input.predicate) if isinstance(n, Lit)]
    assert "x/*not a comment*/y" in lits


def test_parse_errors_are_sql_parse_errors():
    # bad DATE literal and unterminated comment must surface as
    # SqlParseError (so engine.sql can fall back), never bare ValueError
    with pytest.raises(SqlParseError):
        parse("SELECT a FROM t WHERE c = DATE '2024-13-99'")
    with pytest.raises(SqlParseError):
        parse("SELECT a /* unterminated FROM t")


def test_exists_under_or_rejected_at_parse():
    with pytest.raises(SqlParseError, match="OR/NOT"):
        parse("SELECT a FROM t WHERE a = 1 OR EXISTS "
              "(SELECT 1 FROM u WHERE u.x = t.x)")


def test_distinct_in_unknown_function_rejected():
    # array_agg graduated to a real aggregate in r7 s3 — use a function
    # that is genuinely not an aggregate
    with pytest.raises(SqlParseError, match="DISTINCT"):
        parse("SELECT upper(DISTINCT a) AS v FROM t GROUP BY b")


def test_correlated_below_aggregate_rejected_locally(spark):
    # hoisting a filter from under an aggregate would change group
    # membership — the LOCAL compile must refuse, not silently
    # mis-answer (on a single remote the same shape federates and the
    # engine executes it natively — see
    # test_correlated_below_aggregate_federates_remotely)
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.expressions import (
        Exists, OuterRef, agg, col)
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng.register_local_parquet("customer", f"{TESTDATA}/customer.parquet")
    sub = (eng.table("orders")
           .filter(col("o_custkey") == OuterRef("c_custkey"))
           .group_by("o_orderpriority")
           .agg(agg("count").alias("n")))
    b = eng.table("customer").filter(Exists(sub.plan)).select("c_custkey")
    with pytest.raises(Exception, match="decorrelated|correlated"):
        b.to_df().collect()


def test_correlated_below_aggregate_federates_remotely(duckdb_engine):
    """The same correlated-below-aggregate EXISTS that the local path
    refuses is perfectly valid SQL on ONE provider: since round 4 the
    claim carries the correlated subquery — the outer reference must be
    QUALIFIED so the scope vet can prove it resolves inside the claim
    (an unqualified one stays local, see
    test_unqualified_self_correlation_stays_local) — and the query
    collapses to a single remote SQL that executes correctly (checked
    against DuckDB running it directly)."""
    from datafusion_federation_spark.expressions import (
        Exists, OuterRef, agg, col)
    eng, ex = duckdb_engine
    sub = (eng.table("orders")
           .filter(col("o_custkey") == OuterRef("c_custkey", "customer"))
           .group_by("o_orderpriority")
           .agg(agg("count").alias("n")))
    b = eng.table("customer").filter(Exists(sub.plan)).select("c_custkey")
    fed = federate(b.plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1 and "EXISTS" in remotes[0].sql
    got = sorted(r[0] for r in b.to_df().collect())
    want = sorted(r[0] for r in ex.conn.execute(
        "SELECT c_custkey FROM customer c WHERE EXISTS "
        "(SELECT o_orderpriority, COUNT(*) FROM orders "
        " WHERE o_custkey = c.c_custkey GROUP BY o_orderpriority)")
        .fetchall())
    assert got == want and len(got) > 0


def test_grouping_sets_local_path_has_key_columns(spark):
    """The LOCAL groupingSets compile must output the grouping key
    columns (federated q54/q69 never exercised this branch)."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.expressions import agg, col
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders_l", f"{TESTDATA}/orders.parquet")
    out = (eng.table("orders_l")
           .grouping_sets([col("o_orderpriority")], [col("o_orderstatus")])
           .agg(agg("count").alias("n"))
           .to_df())
    assert {"o_orderpriority", "o_orderstatus", "n"} <= set(out.columns)
    import duckdb
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW orders AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/orders.parquet')")
    def key(row):
        return tuple((v is None, v) for v in row)

    want = sorted(map(tuple, conn.execute(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) FROM orders "
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))"
    ).fetchall()), key=key)
    got = sorted(map(tuple, out.collect()), key=key)
    assert got == want


# ---------------------------------------------------------------------------
# round-3 advisor regressions
# ---------------------------------------------------------------------------

def test_intersect_binds_tighter_than_union(duckdb_engine):
    """A UNION B INTERSECT C must parse as A UNION (B INTERSECT C) —
    standard SQL precedence, matched by Spark and DuckDB."""
    p = parse("SELECT a FROM t UNION SELECT a FROM u "
              "INTERSECT SELECT a FROM v")
    assert isinstance(p, Union), "top node must be the UNION"
    assert isinstance(p.branches[1], SetOp)
    assert p.branches[1].op == "INTERSECT"
    # end-to-end against the DuckDB oracle: values chosen so the two
    # precedences give different answers
    eng, ex = duckdb_engine
    sql = ("SELECT o_orderpriority AS p FROM orders WHERE o_totalprice > 150000 "
           "UNION SELECT o_orderpriority AS p FROM orders "
           "INTERSECT SELECT o_orderpriority AS p FROM orders "
           "WHERE o_orderpriority LIKE '1%'")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_except_left_associative_with_union():
    p = parse("SELECT a FROM t EXCEPT SELECT a FROM u "
              "UNION SELECT a FROM v")
    # (t EXCEPT u) UNION v
    assert isinstance(p, Union)
    assert isinstance(p.branches[0], SetOp) and p.branches[0].op == "EXCEPT"


def test_aggregate_select_list_order_preserved(duckdb_engine):
    """SELECT COUNT(*) AS n, a ... GROUP BY a must output (n, a) in that
    order, not group-keys-first."""
    p = parse("SELECT COUNT(*) AS n, b FROM t GROUP BY b")
    assert isinstance(p, Project), "reorder projection expected"
    assert [e.name if hasattr(e, 'name') else e.output_name()
            for e in p.projections] == ["n", "b"]
    eng, ex = duckdb_engine
    sql = ("SELECT COUNT(*) AS n, o_orderpriority FROM orders "
           "GROUP BY o_orderpriority")
    df = eng.sql(sql)
    assert df.columns == ["n", "o_orderpriority"]
    assert sorted(map(tuple, df.collect())) == _oracle(sql)


def test_aggregate_keys_first_needs_no_reorder():
    p = parse("SELECT b, COUNT(*) AS n FROM t GROUP BY b")
    assert isinstance(p, Aggregate), \
        "keys-then-aggs order must not grow a reorder Project"


def test_inner_alias_shadowing_outer_not_correlated():
    """A subquery whose FROM alias shadows an outer alias must resolve
    its qualified refs locally — not as OuterRef (which would mis-mark
    the query correlated and block federation)."""
    from datafusion_federation_spark.expressions import OuterRef, walk
    p = parse("SELECT c.a FROM t c WHERE c.a IN "
              "(SELECT c.x FROM u c WHERE c.x > 5)")
    for node in walk_plan(p):
        for e in node.exprs():
            assert not any(isinstance(n, OuterRef) for n in walk(e)), \
                "shadowed alias wrongly resolved as outer reference"


def test_shadowed_alias_query_federates_subquery(duckdb_engine):
    """With the shadowing fix the inner query is UNcorrelated; since
    round 4 a same-provider IN (subquery) joins the enclosing claim's
    lattice, so the WHOLE query — subquery included — collapses into
    one remote SQL (no local InSubquery node survives)."""
    from datafusion_federation_spark.expressions import InSubquery, walk
    eng, ex = duckdb_engine
    sql = ("SELECT c.o_orderkey FROM orders c WHERE c.o_custkey IN "
           "(SELECT c.c_custkey FROM customer c WHERE c.c_acctbal > 1000)")
    plan = eng.sql_plan(sql).plan
    fed = federate(plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1, "same-provider IN must fully federate"
    assert " IN (" in remotes[0].sql
    in_subs = [n for node in walk_plan(fed) for e in node.exprs()
               for n in walk(e) if isinstance(n, InSubquery)]
    assert not in_subs
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


# ---------------------------------------------------------------------------
# wildcard options (* EXCEPT/EXCLUDE/REPLACE) + named WINDOW clause
# ---------------------------------------------------------------------------

def test_parse_star_except_and_replace_shapes():
    from datafusion_federation_spark.expressions import Star
    p = parse("SELECT * EXCEPT (a, b) FROM t")
    st = p.projections[0]
    assert isinstance(st, Star) and list(st.exclude) == ["a", "b"]
    p = parse("SELECT * EXCLUDE (a) REPLACE (x * 2 AS x) FROM t")
    st = p.projections[0]
    assert list(st.exclude) == ["a"]
    assert [name for _, name in st.replace] == ["x"]
    p = parse("SELECT t.* EXCEPT (a) FROM t")
    st = p.projections[0]
    assert st.table == "t" and list(st.exclude) == ["a"]
    # a set-operation EXCEPT after FROM still parses as a set op
    p = parse("SELECT * FROM t EXCEPT SELECT * FROM u")
    assert isinstance(p, SetOp) and p.op == "EXCEPT"


def test_star_except_federated_duckdb(duckdb_engine):
    eng, ex = duckdb_engine
    sql = "SELECT * EXCEPT (n_name) FROM nation ORDER BY n_nationkey"
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode), \
        "star-EXCEPT must still federate (DuckDB renders EXCLUDE natively)"
    df = eng.sql(sql)
    assert df.columns == ["n_nationkey", "n_regionkey"]
    got = sorted(map(tuple, df.collect()))
    assert got == _oracle(
        "SELECT * EXCLUDE (n_name) FROM nation ORDER BY n_nationkey")


def test_star_replace_federated_duckdb(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT * REPLACE (n_nationkey * 10 AS n_nationkey) "
           "FROM nation WHERE n_regionkey = 1")
    df = eng.sql(sql)
    got = sorted(map(tuple, df.collect()))
    assert got == _oracle(sql)          # DuckDB supports * REPLACE natively


def test_star_options_local_path(duckdb_engine):
    # lineitem is a LOCAL parquet table in this fixture - exercises the
    # compiler's explicit-projection expansion rather than the unparser
    eng, _ = duckdb_engine
    sql = ("SELECT * EXCEPT (l_returnflag, l_linestatus) "
           "REPLACE (l_quantity * 2 AS l_quantity) "
           "FROM lineitem WHERE l_orderkey < 10")
    df = eng.sql(sql)
    assert "l_returnflag" not in df.columns
    assert "l_linestatus" not in df.columns
    got = sorted(map(tuple, df.collect()))
    assert got == _oracle(
        "SELECT * EXCLUDE (l_returnflag, l_linestatus) "
        "REPLACE (l_quantity * 2 AS l_quantity) "
        "FROM lineitem WHERE l_orderkey < 10")


def test_qualified_star_replace_local(duckdb_engine):
    # closes the round-2 partial: qualified t.* REPLACE compiles locally
    eng, _ = duckdb_engine
    sql = ("SELECT l.* REPLACE (l_quantity * 2 AS l_quantity) "
           "FROM lineitem l WHERE l_orderkey < 10")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(
        "SELECT l.* REPLACE (l_quantity * 2 AS l_quantity) "
        "FROM lineitem l WHERE l_orderkey < 10")


def test_star_except_expansion_for_dialects_without_syntax():
    # sqlite/postgres have no EXCLUDE/REPLACE: the unparser expands the
    # star against the scan schema into an explicit column list
    from pyspark.sql.types import LongType, StructField, StructType
    from datafusion_federation_spark.sources.table import (
        RemoteTable, TableHandle)
    from datafusion_federation_spark.unparser import Unparser
    sch = StructType([StructField(c, LongType()) for c in ("a", "b", "x")])
    handle = TableHandle(local_name="t", provider=None,
                         remote=RemoteTable.named("t"), schema=sch)
    p = parse_sql("SELECT * EXCEPT (a) REPLACE (x * 2 AS x) FROM t",
                  lambda name: handle)
    assert Unparser("sqlite").plan_to_sql(p) == \
        'SELECT "b", ("x" * 2) AS "x" FROM "t"'
    assert Unparser("duckdb").plan_to_sql(p) == \
        'SELECT * EXCLUDE ("a") REPLACE (("x" * 2) AS "x") FROM "t"'
    assert Unparser("spark").plan_to_sql(
        parse_sql("SELECT * EXCEPT (a) FROM t", lambda name: handle)) == \
        "SELECT * EXCEPT (`a`) FROM `t`"


def test_named_window_federates(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT o_custkey, o_totalprice, "
           "SUM(o_totalprice) OVER w AS running, "
           "AVG(o_totalprice) OVER w AS avg_so_far "
           "FROM orders WHERE o_custkey < 50 "
           "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode), \
        "named-window query must federate (spec inlined into OVER)"
    got = sorted(map(tuple, eng.sql(sql).collect()))
    oracle = [(r[0], r[1], round(r[2], 4), round(r[3], 4))
              for r in _oracle(sql)]
    got = [(r[0], r[1], round(r[2], 4), round(r[3], 4)) for r in got]
    assert got == oracle


def test_named_window_local_path(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT l_orderkey, l_linenumber, "
           "SUM(l_quantity) OVER w AS cum_qty FROM lineitem "
           "WHERE l_orderkey < 20 "
           "WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_named_window_shared_by_two_functions_once():
    from datafusion_federation_spark.expressions import WindowFunc, walk
    p = parse("SELECT k, SUM(v) OVER w AS s, COUNT(v) OVER w AS c "
              "FROM t WINDOW w AS (PARTITION BY k ORDER BY v)")
    wfs = [x for e in p.projections for x in walk(e)
           if isinstance(x, WindowFunc)]
    assert len(wfs) == 2
    for wf in wfs:
        assert wf.partition_by and wf.order_by
        assert not getattr(wf, "_named_ref", None)


def test_unknown_window_name_rejected():
    with pytest.raises(SqlParseError):
        parse("SELECT SUM(v) OVER w FROM t")


def test_view_fallback_ignores_names_in_strings_and_comments(duckdb_engine):
    """The Spark-parser fallback registers only tables whose names appear
    as identifier tokens — 'orders' inside a string literal or comment
    must not build a whole-table remote view (r2 verdict wrong-item 3)."""
    eng, ex = duckdb_engine
    q0 = ex.metrics().get("queries", 0)
    # LATERAL VIEW is outside our parser -> Spark-view fallback path;
    # references lineitem (local) only, mentions orders in a comment+string
    df = eng.sql(
        "-- orders should not register\n"
        "SELECT l_returnflag, 'orders' AS tag, x FROM lineitem "
        "LATERAL VIEW explode(sequence(1, 2)) t AS x")
    assert df.count() > 0
    assert ex.metrics().get("queries", 0) == q0, \
        "remote 'orders' view must not have executed"


def test_join_using_federates_and_matches(duckdb_engine):
    eng, ex = duckdb_engine
    # orders/customer share no column name; a USING pair needs derived
    # tables that rename both sides' keys to one name
    sql = ("SELECT c_mktsegment, COUNT(*) AS n FROM "
           "(SELECT o_custkey AS ck, o_totalprice FROM orders) o "
           "JOIN (SELECT c_custkey AS ck, c_mktsegment FROM customer) c "
           "USING (ck) WHERE o_totalprice > 100000 "
           "GROUP BY c_mktsegment")
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode), \
        "USING join over one provider must collapse to one remote SQL"
    assert "USING" in plan.sql
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_join_using_local_path(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT k, n FROM "
           "(SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem "
           " GROUP BY l_orderkey) a "
           "JOIN (SELECT l_orderkey AS k FROM lineitem "
           "      WHERE l_linenumber = 1) b USING (k) "
           "ORDER BY k LIMIT 20")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == sorted(_oracle(sql))


def test_extract_parses_and_federates(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT EXTRACT(YEAR FROM o_orderdate) AS y, COUNT(*) AS n "
           "FROM orders GROUP BY y ORDER BY y")
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode)
    got = sorted(map(tuple, eng.sql(sql).collect()))
    want = _oracle("SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) "
                   "AS y, COUNT(*) AS n FROM orders GROUP BY y ORDER BY y")
    assert got == want


def test_interval_arithmetic_federates(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT COUNT(*) AS n FROM orders "
           "WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
           "- INTERVAL '90' DAY")
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode)
    assert "INTERVAL '90' DAY" in plan.sql
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == _oracle(sql)


def test_interval_arithmetic_local(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT COUNT(*) AS n FROM lineitem "
           "WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
           "+ INTERVAL 30 DAYS")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == _oracle(
        "SELECT COUNT(*) AS n FROM lineitem "
        "WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
        "+ INTERVAL 30 DAY")


def test_group_by_shadowing_alias_falls_back(duckdb_engine):
    """`substr(c,1,1) AS c ... GROUP BY c`: engines resolve the COLUMN
    first; our parser refuses (SqlParseError -> Spark fallback) rather
    than silently grouping by the alias expression."""
    with pytest.raises(SqlParseError, match="ambiguous"):
        parse("SELECT SUBSTRING(n_name, 1, 1) AS n_name, COUNT(*) AS n "
              "FROM nation GROUP BY n_name")
    # and end-to-end the fallback produces the column-first answer
    eng, _ = duckdb_engine
    sql = ("SELECT SUBSTRING(c_mktsegment, 1, 1) AS c_mktsegment, "
           "COUNT(*) AS n FROM customer GROUP BY c_mktsegment")
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_identifier_function_table_still_registers(duckdb_engine):
    """Spark's IDENTIFIER('t') names a table via a string token; the
    view-fallback tokenizer must still register it."""
    eng, ex = duckdb_engine
    sql = "SELECT COUNT(*) AS n FROM IDENTIFIER('nation')"
    got = [tuple(r) for r in eng.sql(sql).collect()]
    assert got == _oracle("SELECT COUNT(*) AS n FROM nation")


def test_qualify_alias_federates(duckdb_engine):
    """QUALIFY over a window alias: federates (derived table + WHERE in
    the remote SQL — DuckDB's own QUALIFY semantics) and matches the
    oracle running literal QUALIFY."""
    eng, _ = duckdb_engine
    sql = ("SELECT o_custkey, o_orderkey, o_totalprice, "
           "ROW_NUMBER() OVER (PARTITION BY o_custkey "
           "ORDER BY o_totalprice DESC, o_orderkey) AS rk "
           "FROM orders QUALIFY rk <= 2 ORDER BY o_custkey, rk")
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode)
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql)


def test_qualify_direct_window_hidden_column(duckdb_engine):
    """A window call directly in QUALIFY (not in the select list) uses a
    hidden projection column and a restoring Project."""
    eng, _ = duckdb_engine
    sql = ("SELECT o_custkey, o_orderkey FROM orders "
           "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey "
           "ORDER BY o_orderkey) = 1 ORDER BY o_custkey")
    df = eng.sql(sql)
    assert df.columns == ["o_custkey", "o_orderkey"]
    got = sorted(map(tuple, df.collect()))
    assert got == _oracle(sql)


def test_qualify_with_named_window(duckdb_engine):
    eng, _ = duckdb_engine
    sql = ("SELECT o_custkey, o_orderkey, "
           "SUM(o_totalprice) OVER w AS running "
           "FROM orders WHERE o_custkey < 100 "
           "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey) "
           "QUALIFY running > 200000 ORDER BY o_custkey, o_orderkey")
    got = [tuple((r[0], r[1], round(r[2], 2))) for r in
           eng.sql(sql).collect()]
    want = [(a, b, round(c, 2)) for a, b, c in _oracle(sql)]
    assert sorted(got) == want


def test_qualify_star_with_hidden_window_rejected():
    with pytest.raises(SqlParseError, match="QUALIFY"):
        parse("SELECT * FROM t QUALIFY ROW_NUMBER() OVER "
              "(ORDER BY a) = 1")


def test_qualify_references_unprojected_column(duckdb_engine):
    """QUALIFY may reference FROM columns the select list does not
    expose (valid DuckDB); they ride as hidden projection columns and
    are dropped by the restoring Project (review r3)."""
    eng, _ = duckdb_engine
    sql = ("SELECT o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey "
           "ORDER BY o_orderkey) AS rk FROM orders "
           "QUALIFY rk = 1 AND o_totalprice > 100000 ORDER BY o_orderkey")
    df = eng.sql(sql)
    assert df.columns == ["o_orderkey", "rk"]
    got = sorted(map(tuple, df.collect()))
    assert got == _oracle(sql)


def test_qualify_over_aggregates_both_select_orders(spark):
    # graduated from a refusal in r7 s4 — and the r3 concern (one
    # select order accepted, the other shipping invalid SQL) is now
    # the test: BOTH orders must compile and agree with DuckDB
    from datafusion_federation_spark.engine import FederationEngine
    rows = [(1, 10), (1, 30), (2, 5), (3, 100)]
    eng = FederationEngine(spark)
    eng.register_local_df("tq", spark.createDataFrame(rows, "c int, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE tq(c int, v int)")
    con.executemany("INSERT INTO tq VALUES (?,?)", rows)
    for sql in ("SELECT c, CAST(COUNT(*) AS BIGINT) AS n FROM tq GROUP "
                "BY c QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, c) "
                "<= 2 ORDER BY c",
                "SELECT CAST(COUNT(*) AS BIGINT) AS n, c FROM tq GROUP "
                "BY c QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, c) "
                "<= 2 ORDER BY c"):
        got = [tuple(r) for r in eng.sql(sql).collect()]
        assert got == con.execute(sql).fetchall(), sql


def test_unqualified_self_correlation_stays_local(duckdb_engine):
    """An UNqualified OuterRef rendered into remote SQL would bind the
    innermost scope — `o_custkey = o_custkey`, a tautology. The claim
    vet refuses it; the local path binds the outer frame explicitly and
    answers correctly (every order's custkey exists -> all rows)."""
    from datafusion_federation_spark.expressions import (
        Exists, OuterRef, col)
    eng, ex = duckdb_engine
    sub = (eng.table("orders")
           .filter(col("o_custkey") == OuterRef("o_custkey")))
    b = eng.table("orders").filter(Exists(sub.plan)).select("o_orderkey")
    fed = federate(b.plan)
    claimed = [n.sql for n in walk_plan(fed)
               if isinstance(n, RemoteQueryNode)]
    assert not any("EXISTS" in s for s in claimed), \
        "unqualified correlation must not render into a remote claim"
    n_orders = ex.conn.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert b.to_df().count() == n_orders


def test_out_of_claim_outer_ref_never_ships(duckdb_engine):
    """A subquery referencing an alias OUTSIDE the candidate claim
    (local lineitem `l` from a remote-only nested EXISTS chain) must
    not federate: no remote SQL may mention the foreign alias — the
    depth-recursive vet in _subquery_outer_ok rejects it even when the
    reference sits below ANOTHER subquery level."""
    eng, ex = duckdb_engine
    sql = """
    SELECT l.l_orderkey FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = l.l_suppkey))
    """
    fed = federate(eng.sql_plan(sql).plan)
    for n in walk_plan(fed):
        if isinstance(n, RemoteQueryNode):
            assert '"l"' not in n.sql, \
                f"out-of-claim alias shipped remotely: {n.sql}"


def test_correlated_federation_case_insensitive_alias(duckdb_engine):
    """Mixed-case outer alias: qualifier comparison must be
    case-insensitive (engines and sqlfront both are), or the collapse
    silently degrades to per-table pulls."""
    eng, ex = duckdb_engine
    sql = ("SELECT C.c_custkey FROM customer C "
           "WHERE EXISTS (SELECT 1 FROM orders o "
           "WHERE o.o_custkey = C.c_custkey) "
           "ORDER BY C.c_custkey LIMIT 3")
    fed = federate(eng.sql_plan(sql).plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1 and "EXISTS" in remotes[0].sql
    got = [r[0] for r in eng.sql(sql).collect()]
    assert got == [0, 1, 2]


def test_shadowed_table_name_not_vetted_as_outer_scope(duckdb_engine):
    """A SubqueryAlias SHADOWS the table name beneath it: an OuterRef
    qualified by the hidden name must NOT pass the claim vet (the
    rendered SQL would reference an unbound relation) — it stays local
    and the compiler binds the outer frame explicitly."""
    from datafusion_federation_spark.expressions import Exists, OuterRef, col
    eng, ex = duckdb_engine
    # outer: customer AS c (the name 'customer' is shadowed);
    # subquery references OuterRef('c_acctbal', 'customer')
    sub = (eng.table("orders")
           .filter(col("o_totalprice") > OuterRef("c_acctbal", "customer")))
    outer = eng.table("customer").alias("c") if hasattr(
        eng.table("customer"), "alias") else None
    if outer is None:
        import pytest
        pytest.skip("builder has no alias()")
    b = outer.filter(Exists(sub.plan)).select("c_custkey")
    fed = federate(b.plan)
    for n in walk_plan(fed):
        if isinstance(n, RemoteQueryNode):
            assert "EXISTS" not in n.sql, \
                "shadow-qualified correlation must not claim"


def test_correlated_not_in_collapses_to_one_remote(duckdb_engine):
    """Same-provider correlated NOT IN (the q73 shape) rides the claim
    and renders natively in ONE remote SQL — no local anti joins."""
    eng, ex = duckdb_engine
    sql = ("SELECT c_custkey FROM customer c "
           "WHERE c.c_custkey NOT IN "
           "(SELECT o.o_custkey FROM orders o "
           "WHERE o.o_custkey = c.c_custkey "
           "AND o.o_totalprice > 320000.0)")
    fed = federate(eng.sql_plan(sql).plan)
    assert isinstance(fed, RemoteQueryNode)
    got = sorted(map(tuple, eng.sql(sql).collect()))
    assert got == _oracle(sql) and len(got) > 0


def test_expressions_over_grouped_keys(spark):
    """r6: expressions OF grouped columns in the select list compile as
    a post-aggregation projection (the exact-key check used to reject
    them, forcing the Spark-parser fallback — which then choked on
    portable type names like bare VARCHAR). Both arms + the refusal
    for relabeled keys."""
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sqlfront import SqlParseError
    from tests.conftest import TESTDATA
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    key = (lambda t: tuple((x is None, str(x)) for x in t))
    for sql in [
        "SELECT COALESCE(CAST(n_regionkey AS VARCHAR), 'ALL') AS g, "
        "COUNT(*) AS n FROM nation GROUP BY ROLLUP(n_regionkey)",
        "SELECT n_regionkey + 100 AS shifted, COUNT(*) AS n "
        "FROM nation GROUP BY n_regionkey",
        "SELECT CAST(n_regionkey AS TEXT) AS g, SUM(n_nationkey) AS s "
        "FROM nation GROUP BY n_regionkey HAVING COUNT(*) > 3",
    ]:
        want = sorted(map(tuple, con.execute(sql).fetchall()), key=key)
        got = sorted((tuple(r) for r in eng.sql(sql).collect()), key=key)
        assert got == want, sql
    con.close()
    # a select item that RELABELS the key: r6 refused this shape; the
    # r7 rebind (post-expr refs -> the key's aggregate-output label,
    # full expr-key match) compiles it correctly instead — see
    # test_post_aggregation_relabel_binding for the qualified/collision
    # variants
    import duckdb as _ddb
    con2 = _ddb.connect()
    con2.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    sql = ("SELECT n_regionkey AS r, n_regionkey + 1 AS r2, "
           "COUNT(*) AS n FROM nation GROUP BY n_regionkey")
    got = sorted(tuple(r) for r in eng.sql(sql).collect())
    want = sorted(map(tuple, con2.execute(sql).fetchall()))
    con2.close()
    assert got == want and got


def test_distinct_on(spark):
    """DISTINCT ON (DataFusion/Postgres/DuckDB extension, r6): first
    row per ON-group under the residual ORDER BY, rewritten to a
    row_number window + filter BELOW the restoring projection so both
    arms execute it. Postgres's initial-ORDER-BY rule enforced, plus
    the repo tightening: >= 1 tie-break key (no engine-arbitrary
    rows)."""
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    from datafusion_federation_spark.sqlfront import SqlParseError
    from tests.conftest import TESTDATA
    local = FederationEngine(spark)
    local.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    ex = DuckDBExecutor(name="duck_don", compute_context="don")
    ex.register_parquet("nation", f"{TESTDATA}/nation.parquet")
    remote = FederationEngine(spark)
    remote.register_remote(SQLProvider(ex), "nation")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    key = (lambda t: tuple((x is None, str(x)) for x in t))
    for sql in [
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        "FROM nation ORDER BY n_regionkey, n_name",
        # ON key NOT in the select list -> hidden-column carry
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation "
        "ORDER BY n_regionkey, n_nationkey DESC",
        # expression key + WHERE + LIMIT
        "SELECT DISTINCT ON (n_regionkey % 2) n_name FROM nation "
        "ORDER BY n_regionkey % 2, n_nationkey",
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name, "
        "n_nationkey FROM nation WHERE n_nationkey > 2 "
        "ORDER BY n_regionkey, n_nationkey DESC LIMIT 3",
    ]:
        want = sorted(map(tuple, con.execute(sql).fetchall()), key=key)
        for eng in (local, remote):
            got = sorted((tuple(r) for r in eng.sql(sql).collect()),
                         key=key)
            assert got == want, sql
    con.close()
    # refusals: no ORDER BY; ON exprs not the ORDER BY prefix; no
    # tie-break key (engine-arbitrary row)
    for bad in [
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation",
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation "
        "ORDER BY n_name, n_regionkey",
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation "
        "ORDER BY n_regionkey",
    ]:
        with pytest.raises(SqlParseError, match="DISTINCT ON"):
            local.sql_plan(bad)


def test_distinct_on_set_op_refusals_and_nesting(spark):
    """r6 review: INTERSECT chains bypassed the set-op guard (only
    UNION/EXCEPT were checked at the query level); a pending DISTINCT
    ON must refuse EVERY set operation, while a DISTINCT ON inside a
    derived table composes fine (its own parse_query scope)."""
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sqlfront import SqlParseError
    from tests.conftest import TESTDATA
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    for bad in [
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation "
        "INTERSECT SELECT n_name FROM nation "
        "ORDER BY n_regionkey, n_name",
        "SELECT DISTINCT ON (n_regionkey) n_name FROM nation "
        "UNION SELECT n_name FROM nation "
        "ORDER BY n_regionkey, n_name",
    ]:
        with pytest.raises(SqlParseError, match="set operations"):
            eng.sql_plan(bad)
    sql = ("SELECT x FROM (SELECT DISTINCT ON (n_regionkey) "
           "n_nationkey AS x FROM nation "
           "ORDER BY n_regionkey, n_nationkey) s WHERE x > 1 "
           "ORDER BY x")
    got = [r.x for r in eng.sql(sql).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    want = [r[0] for r in con.execute(sql).fetchall()]
    con.close()
    assert got == want and got


def test_distinct_on_cte_scope(spark):
    """DISTINCT ON inside a CTE (r7): the lowering runs in the CTE's
    own query scope; the outer query aggregates the deduplicated rows.
    Identical SQL on DuckDB's native DISTINCT ON is the reference."""
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    from tests.conftest import TESTDATA
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    sql = ("WITH top_per_region AS ("
           "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_nationkey "
           "FROM nation ORDER BY n_regionkey, n_nationkey DESC) "
           "SELECT COUNT(*) AS n, SUM(n_nationkey) AS s "
           "FROM top_per_region")
    got = [tuple(r) for r in eng.sql(sql).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    assert got == want and got[0][0] > 0


def test_post_aggregation_relabel_binding(spark):
    """ADVICE r6: the post-aggregation projection guard compared bare
    names only, so a QUALIFIED group-key reference could collide with a
    same-named aggregate alias and bind wrong. r7 rebinds every
    group-key reference (by full expr key, qualifier included) to the
    key's aggregate-output label — relabeled keys now compile correctly
    instead of being refused, and the collision case binds to the KEY,
    not the aggregate."""
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    from tests.conftest import TESTDATA
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    for sql in [
        # relabeled key + post expr over the same key
        "SELECT t.n_regionkey AS j, "
        "COALESCE(CAST(t.n_regionkey AS VARCHAR), 'x') AS c, "
        "COUNT(*) AS n FROM nation t GROUP BY t.n_regionkey ORDER BY j",
        # qualified-ref collision with an aggregate alias of the bare name
        "SELECT t.n_regionkey AS j, MAX(n_nationkey) AS n_regionkey, "
        "COALESCE(CAST(t.n_regionkey AS VARCHAR), 'x') AS c "
        "FROM nation t GROUP BY t.n_regionkey ORDER BY j",
    ]:
        got = sorted(tuple(r) for r in eng.sql(sql).collect())
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want and got, sql
    con.close()


def test_threevl_is_forms_parse_and_lower():
    """IS [NOT] DISTINCT FROM and IS [NOT] TRUE/FALSE/UNKNOWN through
    the front door (r7): parse to the IR nodes and render back; the
    plain IS [NOT] NULL path is untouched."""
    from datafusion_federation_spark.dialects import DIALECTS
    from datafusion_federation_spark.expressions import (
        IsDistinctFrom, IsTrue)
    from datafusion_federation_spark.sqlfront import parse_sql

    class _T:
        name = local_name = "nation"
        columns = ["n_nationkey", "n_name", "n_regionkey"]

    def pred_of(sql):
        plan = parse_sql(sql, lambda n: _T())
        # Filter is the scan's parent in these single-table shapes
        from datafusion_federation_spark.plans.nodes import (
            Filter, walk_plan)
        for node in walk_plan(plan):
            if isinstance(node, Filter):
                return node.predicate
        raise AssertionError("no Filter in plan")

    d = DIALECTS["duckdb"]
    p = pred_of("SELECT n_name FROM nation "
                "WHERE n_regionkey IS DISTINCT FROM 2")
    assert isinstance(p, IsDistinctFrom) and not p.negated
    assert "IS DISTINCT FROM" in p.to_sql(d)
    p = pred_of("SELECT n_name FROM nation "
                "WHERE n_regionkey IS NOT DISTINCT FROM 2")
    assert isinstance(p, IsDistinctFrom) and p.negated
    p = pred_of("SELECT n_name FROM nation "
                "WHERE (n_regionkey > 1) IS NOT TRUE")
    assert isinstance(p, IsTrue) and p.negated and p.what == "TRUE"
    p = pred_of("SELECT n_name FROM nation "
                "WHERE (n_regionkey > 1) IS UNKNOWN")
    assert isinstance(p, IsTrue) and not p.negated \
        and p.what == "UNKNOWN"
    assert "IS UNKNOWN" in p.to_sql(d)


# -- IGNORE NULLS (r7 s3) ----------------------------------------------------

def test_parse_ignore_nulls_both_spellings():
    from datafusion_federation_spark.expressions import WindowFunc, walk
    for sql in (
        "SELECT LAG(x) IGNORE NULLS OVER (ORDER BY i) AS p FROM t0",
        "SELECT LAG(x IGNORE NULLS) OVER (ORDER BY i) AS p FROM t0",
    ):
        p = parse(sql)
        wf = next(x for e in p.projections for x in walk(e)
                  if isinstance(x, WindowFunc))
        assert wf.ignore_nulls is True


def test_parse_respect_nulls_is_default():
    from datafusion_federation_spark.expressions import WindowFunc, walk
    p = parse("SELECT LAG(x) RESPECT NULLS OVER (ORDER BY i) AS p FROM t0")
    wf = next(x for e in p.projections for x in walk(e)
              if isinstance(x, WindowFunc))
    assert wf.ignore_nulls is False


def test_parse_ignore_nulls_without_over_refused():
    with pytest.raises(SqlParseError, match="OVER"):
        parse("SELECT LAG(x) IGNORE NULLS FROM t0")


def test_ignore_nulls_alias_named_ignore_not_consumed():
    # `f(x) ignore` = alias named "ignore", not a null-treatment prefix
    p = parse("SELECT COALESCE(x, 0) ignore FROM t0")
    assert p.projections[0].output_name() == "ignore"


def test_ignore_nulls_values_vs_duckdb(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(
            [(1, 10), (2, None), (3, 30), (4, None)], "i int, x int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), "
                "(2, NULL), (3, 30), (4, NULL)) v(i, x)")
    cases = [
        ("LAG(x) IGNORE NULLS", "lag(x IGNORE NULLS)"),
        ("LEAD(x) IGNORE NULLS", "lead(x IGNORE NULLS)"),
        ("FIRST_VALUE(x) IGNORE NULLS", "first_value(x IGNORE NULLS)"),
    ]
    for ours, ducks in cases:
        got = [tuple(r) for r in eng.sql(
            f"SELECT i, {ours} OVER (ORDER BY i) AS v "
            f"FROM t ORDER BY i").collect()]
        want = con.execute(
            f"SELECT i, {ducks} OVER (ORDER BY i) AS v "
            f"FROM t ORDER BY i").fetchall()
        assert got == want, (ours, got, want)


def test_ignore_nulls_lag_offset2_lowered(spark):
    # graduated r8 (was an offset-1-only refusal): n-th-non-null via a
    # one-sided frame collect — value-pinned vs DuckDB in
    # tests/test_r8_lowerings.py; here just the postfix spelling
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(
            [(1, 10), (2, None), (3, 30), (4, 40)], "i int, x int"))
    rows = eng.sql("SELECT i, LAG(x, 2) IGNORE NULLS OVER (ORDER BY i) "
                   "AS v FROM t ORDER BY i").collect()
    assert [r.v for r in rows] == [None, None, None, 10]


# -- VALUES inline relation (r7 s3) ------------------------------------------

def test_values_relation_executes(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    rows = eng.sql("SELECT i, s FROM (VALUES (1, 'a'), (2, 'b')) "
                   "AS v(i, s) ORDER BY i").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]


def test_values_join_against_table(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "region", spark.read.parquet(f"{TESTDATA}/region.parquet"))
    rows = eng.sql(
        "SELECT r_name, w FROM region "
        "JOIN (VALUES (0, 10.5), (2, 20.5)) AS v(k, w) "
        "ON r_regionkey = k ORDER BY r_name").collect()
    assert [tuple(r) for r in rows] == [("AFRICA", 10.5), ("ASIA", 20.5)]


def test_values_requires_column_alias_list():
    with pytest.raises(SqlParseError, match="alias"):
        parse("SELECT * FROM (VALUES (1)) v")


def test_values_arity_mismatch_refused():
    with pytest.raises(SqlParseError, match="arity"):
        parse("SELECT * FROM (VALUES (1, 2), (3)) v(a, b)")
    with pytest.raises(SqlParseError, match="columns"):
        parse("SELECT * FROM (VALUES (1, 2)) v(a)")


# -- order-sensitive aggregates (r7 s3) --------------------------------------

def _agg_engine(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "g", spark.createDataFrame(
            [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"),
             (2, 1, "x"), (2, None, "y")],
            "k int, o int, v string"))
    return eng


def test_string_agg_order_by_asc_desc(spark):
    eng = _agg_engine(spark)
    rows = eng.sql("SELECT k, STRING_AGG(v, '-' ORDER BY o) AS s "
                   "FROM g GROUP BY k ORDER BY k").collect()
    # Spark default: ASC -> NULLS FIRST (o=None sorts first in k=2)
    assert [tuple(r) for r in rows] == [(1, "a-b-c"), (2, "y-x")]
    rows = eng.sql("SELECT k, STRING_AGG(v, '-' ORDER BY o DESC) AS s "
                   "FROM g GROUP BY k ORDER BY k").collect()
    assert [tuple(r) for r in rows] == [(1, "c-b-a"), (2, "x-y")]


def test_string_agg_nulls_last_matches_duckdb(spark):
    eng = _agg_engine(spark)
    q = ("SELECT k, STRING_AGG(v, '-' ORDER BY o ASC NULLS LAST) AS s "
         "FROM g GROUP BY k ORDER BY k")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE g AS SELECT * FROM (VALUES "
                "(1, 3, 'c'), (1, 1, 'a'), (1, 2, 'b'), "
                "(2, 1, 'x'), (2, NULL, 'y')) t(k, o, v)")
    assert got == con.execute(q).fetchall()


def test_string_agg_skips_null_values(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "g", spark.createDataFrame(
            [(1, 1, "a"), (1, 2, None), (1, 3, "c")],
            "k int, o int, v string"))
    rows = eng.sql("SELECT k, STRING_AGG(v, '-' ORDER BY o) AS s "
                   "FROM g GROUP BY k").collect()
    assert rows[0].s == "a-c"


def test_array_agg_order_by_multi_key(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "g", spark.createDataFrame(
            [(1, 1, 9, "a"), (1, 1, 1, "b"), (1, 0, 5, "c")],
            "k int, o1 int, o2 int, v string"))
    rows = eng.sql(
        "SELECT k, ARRAY_AGG(v ORDER BY o1 ASC, o2 DESC) AS vs "
        "FROM g GROUP BY k").collect()
    assert rows[0].vs == ["c", "a", "b"]


def test_ordered_agg_refusals(spark):
    eng = _agg_engine(spark)
    with pytest.raises(SqlParseError, match="not an aggregate"):
        parse("SELECT COALESCE(v ORDER BY o) FROM g")
    with pytest.raises(NotImplementedError, match="no local Spark"):
        eng.sql("SELECT SUM(o ORDER BY o) AS s FROM g").collect()
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        eng.sql("SELECT STRING_AGG(DISTINCT v, '-' ORDER BY v) AS s "
                "FROM g").collect()


def test_grouping_function_rollup_vs_duckdb(spark):
    # GROUPING() must compile INSIDE the grouping Aggregate — Spark
    # raises UNSUPPORTED_GROUPING_EXPRESSION in a post-projection (the
    # pre-r7s3 lowering); classified as an aggregate it lands in
    # Aggregate.aggregates where F.grouping is legal
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "nation", spark.read.parquet(f"{TESTDATA}/nation.parquet"))
    q = ("SELECT n_regionkey, CAST(GROUPING(n_regionkey) AS BIGINT) AS g, "
         "COUNT(*) AS c FROM nation GROUP BY ROLLUP(n_regionkey) "
         "ORDER BY g, n_regionkey")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"'{TESTDATA}/nation.parquet'")
    assert got == con.execute(q).fetchall()


def test_string_agg_all_null_group_is_null(spark):
    # review r7 s3 finding #2: concat_ws yields '' for an all-NULL
    # group; engines (and the unordered F.string_agg path) return NULL
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "g", spark.createDataFrame(
            [(1, 1, None), (1, 2, None), (2, 1, "x")],
            "k int, o int, v string"))
    rows = {r.k: r.s for r in eng.sql(
        "SELECT k, STRING_AGG(v, '-' ORDER BY o) AS s "
        "FROM g GROUP BY k").collect()}
    assert rows[1] is None and rows[2] == "x"


def test_array_agg_keeps_nulls_both_spellings(spark):
    # review r7 s3 finding #4: Spark's array_agg drops NULL elements;
    # Postgres/DuckDB keep them — and results must not flip on ORDER BY
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "g", spark.createDataFrame(
            [(1, 1, "a"), (1, 2, None), (1, 3, "c")],
            "k int, o int, v string"))
    ordered = eng.sql("SELECT ARRAY_AGG(v ORDER BY o) AS vs FROM g "
                      "GROUP BY k").collect()[0].vs
    assert ordered == ["a", None, "c"]
    unordered = eng.sql("SELECT ARRAY_AGG(v) AS vs FROM g "
                        "GROUP BY k").collect()[0].vs
    assert sorted(x for x in unordered if x is not None) == ["a", "c"]
    assert None in unordered
    # FILTER drops the row, never keeps a NULL element
    filtered = eng.sql(
        "SELECT ARRAY_AGG(v) FILTER (WHERE o <> 2) AS vs FROM g "
        "GROUP BY k").collect()[0].vs
    assert sorted(filtered) == ["a", "c"]


def test_ignore_nulls_with_filter(spark):
    # review r7 s3 finding #5: FILTER + IGNORE NULLS composes (rows
    # failing the filter become NULLs the aggregate skips)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(
            [(1, 10, 1), (2, 20, 0), (3, None, 1), (4, 40, 1)],
            "i int, x int, keep int"))
    q = ("SELECT i, FIRST(x) FILTER (WHERE keep = 1) IGNORE NULLS "
         "OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND "
         "UNBOUNDED FOLLOWING) AS fv FROM t ORDER BY i")
    got = [r.fv for r in eng.sql(q).collect()]
    assert got == [10, 10, 10, 10]


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL / SEMI-ANTI JOIN (r7 s4)
# ---------------------------------------------------------------------------

def test_group_by_all_matches_duckdb(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    q = ("SELECT o_orderstatus, SUBSTR(o_orderpriority, 1, 1) AS pri, "
         "CAST(COUNT(*) AS BIGINT) AS n FROM orders "
         "GROUP BY ALL ORDER BY ALL")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{TESTDATA}/orders.parquet'")
    assert got == con.execute(q).fetchall()


def test_group_by_all_all_aggregate_degrades_to_ungrouped(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    rows = eng.sql("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation "
                   "GROUP BY ALL").collect()
    assert len(rows) == 1 and rows[0].n == 25


def test_order_by_all_desc_and_modifier(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    q = ("SELECT n_regionkey, n_name FROM nation WHERE n_nationkey < 6 "
         "ORDER BY ALL DESC")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"'{TESTDATA}/nation.parquet'")
    assert got == con.execute(q).fetchall()


def test_order_by_all_refusals():
    # a surviving * has no known output list; mixing ALL with more keys
    # is not the DuckDB grammar
    with pytest.raises(SqlParseError, match="ORDER BY ALL"):
        parse("SELECT * FROM t ORDER BY ALL")
    with pytest.raises(SqlParseError, match="further"):
        parse("SELECT a FROM t ORDER BY ALL, a")


def test_all_stays_an_identifier_when_qualified():
    # `all` as a relation alias: ORDER BY all.c must not trigger the
    # shorthand
    p = parse("SELECT c FROM t AS all ORDER BY all.c")
    assert isinstance(p, Sort)


def test_group_by_all_window_item_refused():
    with pytest.raises(SqlParseError, match="window"):
        parse("SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn, "
              "COUNT(*) AS n FROM t GROUP BY ALL")


def test_semi_anti_join_matches_duckdb(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("customer", f"{TESTDATA}/customer.parquet")
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    q = ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n "
         "FROM customer SEMI JOIN orders ON c_custkey = o_custkey "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    for name in ("customer", "orders"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{TESTDATA}/{name}.parquet'")
    assert got == con.execute(q).fetchall()
    # Spark's LEFT SEMI spelling parses to the same plan
    q2 = q.replace("SEMI JOIN", "LEFT SEMI JOIN")
    assert [tuple(r) for r in eng.sql(q2).collect()] == got
    # ANTI: inactive customers + semi/anti partition the table
    qa = ("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer "
          "ANTI JOIN orders ON c_custkey = o_custkey")
    n_anti = eng.sql(qa).collect()[0].n
    assert n_anti == con.execute(qa).fetchall()[0][0]
    n_semi = sum(v for _, v in got)
    n_all = eng.sql("SELECT CAST(COUNT(*) AS BIGINT) AS n "
                    "FROM customer").collect()[0].n
    assert n_semi + n_anti == n_all


def test_semi_join_plan_is_left_semi(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("customer", f"{TESTDATA}/customer.parquet")
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    df = eng.sql("SELECT c_name FROM customer SEMI JOIN orders "
                 "ON c_custkey = o_custkey")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    # no right-side column survives into the output
    assert df.columns == ["c_name"]


# ---------------------------------------------------------------------------
# window frame EXCLUDE (r7 s4)
# ---------------------------------------------------------------------------

@pytest.fixture()
def _excl_fixture(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    rows = [(1, 1, 10), (1, 2, 20), (1, 2, None), (1, 3, 30),
            (2, 1, 5), (2, 1, 7), (2, 2, None)]
    eng.register_local_df(
        "t", spark.createDataFrame(rows, "g int, k int, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g int, k int, v int)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    return eng, con


@pytest.mark.parametrize("call", [
    # NULLS FIRST pins the one engine-default divergence (Spark ASC is
    # NULLS FIRST, DuckDB NULLS LAST) so frames hold identical rows
    "SUM(v) OVER (PARTITION BY g ORDER BY k, v NULLS FIRST ROWS BETWEEN "
    "1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)",
    "CAST(COUNT(v) OVER (PARTITION BY g ORDER BY k, v NULLS FIRST ROWS "
    "BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT)",
    "CAST(COUNT(*) OVER (PARTITION BY g ORDER BY k, v NULLS FIRST ROWS "
    "BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT)",
    "SUM(v) OVER (PARTITION BY g ORDER BY k RANGE BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW EXCLUDE GROUP)",
    "SUM(v) OVER (PARTITION BY g ORDER BY k RANGE BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW EXCLUDE TIES)",
    "CAST(AVG(v) OVER (PARTITION BY g ORDER BY k RANGE BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS DOUBLE)",
    # all-excluded frame: count 0, sum NULL
    "CAST(COUNT(*) OVER (PARTITION BY g ORDER BY k RANGE BETWEEN CURRENT "
    "ROW AND CURRENT ROW EXCLUDE GROUP) AS BIGINT)",
    # the one ROWS shape where peers are provably in-frame
    "SUM(v) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES)",
    # explicit no-op spelling
    "SUM(v) OVER (PARTITION BY g ORDER BY k, v NULLS FIRST ROWS BETWEEN "
    "1 PRECEDING AND CURRENT ROW EXCLUDE NO OTHERS)",
    # frame without the current row: EXCLUDE CURRENT ROW is a static
    # no-op (the plain aggregate must compile, not subtract)
    "SUM(v) OVER (PARTITION BY g ORDER BY k, v NULLS FIRST ROWS BETWEEN "
    "3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW)",
])
def test_frame_exclude_matches_duckdb(_excl_fixture, call):
    eng, con = _excl_fixture
    q = (f"SELECT g, k, v, {call} AS x FROM t "
         f"ORDER BY g, k, v NULLS FIRST")
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()


def test_frame_exclude_refusals(_excl_fixture):
    eng, _ = _excl_fixture
    # peers not provably inside a bounded ROWS frame
    with pytest.raises(NotImplementedError, match="peer group"):
        eng.sql(
            "SELECT SUM(v) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN "
            "1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS x FROM t")
    # non-invertible aggregates OTHER than min/max (which graduated to
    # the r8 collect lowering) still refuse on the arithmetic path
    with pytest.raises(NotImplementedError, match="COUNT/SUM/AVG"):
        eng.sql(
            "SELECT STDDEV(v) OVER (PARTITION BY g ORDER BY k RANGE "
            "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) "
            "AS x FROM t")
    # GROUP/TIES need a peer relation
    with pytest.raises(NotImplementedError, match="ORDER BY"):
        eng.sql(
            "SELECT SUM(v) OVER (PARTITION BY g ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS x FROM t")


# ---------------------------------------------------------------------------
# GROUPS frame mode (r7 s4) — live SQLite (native GROUPS) is the pin
# ---------------------------------------------------------------------------

@pytest.fixture()
def _groups_fixture(spark):
    import sqlite3
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    rows = [(1, 1, 10), (1, 2, 20), (1, 2, None), (1, 3, 30), (1, 4, 40),
            (2, 1, 5), (2, 1, 7), (2, 2, None)]
    eng.register_local_df(
        "t", spark.createDataFrame(rows, "g int, k int, v int"))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t(g int, k int, v int)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    return eng, con


@pytest.mark.parametrize("call", [
    "SUM(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN 1 PRECEDING "
    "AND CURRENT ROW)",
    "MAX(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN 2 PRECEDING "
    "AND 1 FOLLOWING)",
    "MIN(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN UNBOUNDED "
    "PRECEDING AND 1 PRECEDING)",
    # direction folds into the ordinal
    "COUNT(v) OVER (PARTITION BY g ORDER BY k DESC GROUPS BETWEEN "
    "1 PRECEDING AND CURRENT ROW)",
    # EXCLUDE composes through the same ordinal (peers of the ordinal
    # ARE the original peer group)
    "SUM(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN 1 PRECEDING "
    "AND 1 FOLLOWING EXCLUDE GROUP)",
    "SUM(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN CURRENT ROW "
    "AND CURRENT ROW EXCLUDE TIES)",
    # two same-spec windows share one helper column
    "SUM(v) OVER (PARTITION BY g ORDER BY k GROUPS BETWEEN 1 PRECEDING "
    "AND CURRENT ROW) + COUNT(*) OVER (PARTITION BY g ORDER BY k GROUPS "
    "BETWEEN 1 PRECEDING AND CURRENT ROW)",
])
def test_groups_frame_matches_sqlite(_groups_fixture, call):
    eng, con = _groups_fixture
    q = f"SELECT g, k, v, {call} AS x FROM t ORDER BY g, k, v NULLS FIRST"
    got = [tuple(r) for r in eng.sql(q).collect()]
    want = [tuple(r) for r in con.execute(
        q.replace("v NULLS FIRST", "v"))]   # sqlite: NULLs first is ASC default
    assert got == want


def test_groups_frame_refusals(_groups_fixture):
    eng, _ = _groups_fixture
    with pytest.raises(NotImplementedError, match="aggregate"):
        eng.sql("SELECT FIRST_VALUE(v) OVER (PARTITION BY g ORDER BY k "
                "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM t")
    with pytest.raises(NotImplementedError, match="ORDER BY"):
        eng.sql("SELECT SUM(v) OVER (PARTITION BY g GROUPS BETWEEN "
                "1 PRECEDING AND CURRENT ROW) AS x FROM t")


def test_groups_frame_helper_not_leaked(_groups_fixture):
    eng, _ = _groups_fixture
    df = eng.sql("SELECT g, SUM(v) OVER (PARTITION BY g ORDER BY k "
                 "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM t")
    assert df.columns == ["g", "x"]


# ---------------------------------------------------------------------------
# WITHIN GROUP ordered-set aggregates (r7 s4)
# ---------------------------------------------------------------------------

@pytest.fixture()
def _wg_fixture(spark):
    from datafusion_federation_spark.engine import FederationEngine
    rows = [(1, 10.0), (1, 20.0), (1, None), (1, 30.0), (1, 40.0),
            (2, 5.0), (2, 7.0), (2, None), (3, 1.0)]
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(rows, "g int, v double"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g int, v double)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    return eng, con


@pytest.mark.parametrize("call", [
    "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v)",
    # DESC maps to fraction 1-f (exact by interpolation symmetry)
    "PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v DESC)",
    "PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v)",
    # boundary fractions: 0 -> min, 1 -> max (ceil clamped to [1, n])
    "PERCENTILE_DISC(0.0) WITHIN GROUP (ORDER BY v)",
    "PERCENTILE_DISC(1.0) WITHIN GROUP (ORDER BY v)",
    "PERCENTILE_DISC(0.3) WITHIN GROUP (ORDER BY v DESC)",
    # FILTER: rows failing it become NULLs every form skips
    "PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) "
    "FILTER (WHERE v > 10)",
])
def test_within_group_matches_duckdb(_wg_fixture, call):
    eng, con = _wg_fixture
    q = f"SELECT g, {call} AS p FROM t GROUP BY g ORDER BY g"
    assert [tuple(r) for r in eng.sql(q).collect()] \
        == con.execute(q).fetchall()


def test_within_group_ungrouped_and_refusals(_wg_fixture):
    eng, con = _wg_fixture
    q = ("SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS p "
         "FROM t")
    assert [tuple(r) for r in eng.sql(q).collect()] \
        == con.execute(q).fetchall()
    with pytest.raises(SqlParseError, match="WITHIN GROUP"):
        parse("SELECT SUM(0.5) WITHIN GROUP (ORDER BY v) FROM t")
    with pytest.raises(SqlParseError, match="DISTINCT"):
        parse("SELECT PERCENTILE_CONT(DISTINCT 0.5) WITHIN GROUP "
              "(ORDER BY v) FROM t")
    with pytest.raises(NotImplementedError, match="fraction"):
        eng.sql("SELECT PERCENTILE_CONT(v) WITHIN GROUP (ORDER BY v) "
                "AS p FROM t")


def test_within_group_federated_duckdb(spark):
    # the unparse path: DuckDB renders WITHIN GROUP natively
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="wg_duck", compute_context="test")
    ex.register_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "orders")
    q = ("SELECT o_orderpriority, CAST(PERCENTILE_CONT(0.5) WITHIN "
         "GROUP (ORDER BY o_totalprice) AS DOUBLE) AS med "
         "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{TESTDATA}/orders.parquet'")
    assert got == con.execute(q).fetchall()
    # and the plan actually federated (one remote query node)
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    fed = federate(eng.sql_plan(q).plan)
    assert sum(isinstance(x, RemoteQueryNode)
               for x in walk_plan(fed)) == 1


def test_stat_aggregates_federated_and_local_match(spark):
    # the statistical family federates (generic uppercase rendering)
    # and computes the same values locally — bool/bit forms are exact,
    # moment forms rounded in-query (fp summation order differs)
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    q = ("SELECT n_regionkey, "
         "CAST(ROUND(STDDEV_SAMP(n_nationkey), 6) AS DOUBLE) AS sd, "
         "CAST(ROUND(VAR_POP(n_nationkey), 6) AS DOUBLE) AS vp, "
         "CAST(ROUND(CORR(n_nationkey, n_regionkey), 6) AS DOUBLE) AS c, "
         "BOOL_AND(n_nationkey >= 0) AS ba, "
         "BIT_OR(n_nationkey) AS bo "
         "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")
    local = FederationEngine(spark)
    local.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    got_local = [tuple(r) for r in local.sql(q).collect()]
    ex = DuckDBExecutor(name="stat_duck", compute_context="test")
    ex.register_parquet("nation", f"{TESTDATA}/nation.parquet")
    fed = FederationEngine(spark)
    fed.register_remote(SQLProvider(ex), "nation")
    got_fed = [tuple(r) for r in fed.sql(q).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"'{TESTDATA}/nation.parquet'")
    want = con.execute(q).fetchall()
    assert got_local == want
    assert got_fed == want


def test_skewness_stays_out_of_the_aggregate_map():
    # Spark computes population moments, DuckDB sample-corrected ones:
    # admitting the name would silently flip definitions across the
    # federation boundary. The parser treats it as a plain Func, so
    # grouped use fails loudly instead of computing either definition.
    from datafusion_federation_spark.sqlfront import AGG_NAMES
    assert "skewness" not in AGG_NAMES and "kurtosis" not in AGG_NAMES


def test_corr_constant_group_is_null_not_ansi_throw(spark):
    # Spark 4's native corr THROWS (ANSI divide-by-zero) when a group's
    # x or y is constant; the engines return NULL. The lowering
    # (covar_pop over the pairwise-complete mask, guarded division)
    # matches the engines — and the pairwise mask is load-bearing:
    # rows whose OTHER column is NULL must not count.
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, 5.0, 3.0), (1, 5.0, 4.0),       # x constant -> NULL
         (2, 1.0, 1.0), (2, 2.0, 3.0), (2, None, 9.0), (2, 4.0, None)],
        "g int, x double, y double"))
    q = ("SELECT g, CAST(ROUND(CORR(x, y), 6) AS DOUBLE) AS c FROM t "
         "GROUP BY g ORDER BY g")
    got = [tuple(r) for r in eng.sql(q).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g int, x double, y double)")
    con.executemany("INSERT INTO t VALUES (?,?,?)",
                    [(1, 5.0, 3.0), (1, 5.0, 4.0), (2, 1.0, 1.0),
                     (2, 2.0, 3.0), (2, None, 9.0), (2, 4.0, None)])
    assert got == con.execute(q).fetchall()
    assert got[0][1] is None and got[1][1] == 1.0


# ---------------------------------------------------------------------------
# PIVOT / UNPIVOT relation suffixes (r7 s4)
# ---------------------------------------------------------------------------

@pytest.fixture()
def _pivot_fixture(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, 10, None), (2, 30, 40)], "id int, a int, b int"))
    eng.register_local_df("p", spark.createDataFrame(
        [(1, 'x', 5), (1, 'y', 6), (2, 'x', 7)], "g int, k string, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id int, a int, b int); "
                "INSERT INTO t VALUES (1,10,NULL),(2,30,40)")
    con.execute("CREATE TABLE p(g int, k varchar, v int); "
                "INSERT INTO p VALUES (1,'x',5),(1,'y',6),(2,'x',7)")
    return eng, con


@pytest.mark.parametrize("q", [
    # default drops NULL values; INCLUDE NULLS keeps them
    "SELECT id, n, v FROM t UNPIVOT (v FOR n IN (a, b)) ORDER BY id, n",
    "SELECT id, n, v FROM t UNPIVOT INCLUDE NULLS (v FOR n IN (a, b)) "
    "ORDER BY id, n",
    # alias after the clause, qualified refs
    "SELECT u.id, u.v FROM t UNPIVOT (v FOR n IN (a, b)) u "
    "WHERE u.n = 'a' ORDER BY u.id",
    # derived-table source with the alias BEFORE the clause (DuckDB
    # accepts both orders)
    "SELECT * FROM (SELECT id, a, b FROM t) d "
    "UNPIVOT (v FOR n IN (a, b)) ORDER BY id, n",
    "SELECT * FROM p PIVOT (SUM(v) FOR k IN ('x', 'y')) ORDER BY g",
    "SELECT g, CAST(\"x\" AS BIGINT) AS cx FROM p "
    "PIVOT (COUNT(v) FOR k IN ('x')) ORDER BY g",
])
def test_pivot_unpivot_matches_duckdb(_pivot_fixture, q):
    eng, con = _pivot_fixture
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()
    # and through OUR front door, not the Spark-parser fallback
    from datafusion_federation_spark.plans.nodes import (
        Pivot, Unpivot, walk_plan)
    plan = eng.sql_plan(q).plan
    assert any(isinstance(x, (Pivot, Unpivot)) for x in walk_plan(plan))


def test_pivot_refusals(_pivot_fixture):
    eng, _ = _pivot_fixture
    from datafusion_federation_spark.sqlfront import SqlParseError
    with pytest.raises(SqlParseError, match="literal"):
        eng.sql_plan("SELECT * FROM p PIVOT (SUM(v) FOR k IN (g))")
    with pytest.raises(SqlParseError, match="aggregate"):
        eng.sql_plan("SELECT * FROM p PIVOT (ABS(v) FOR k IN ('x'))")


@pytest.fixture()
def _bool_pivot_fixture(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("b", spark.createDataFrame(
        [(1, True, 5), (1, False, 6), (2, True, 7)],
        "g int, flag boolean, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE b(g int, flag boolean, v int); "
                "INSERT INTO b VALUES (1,true,5),(1,false,6),(2,true,7)")
    return eng, con


@pytest.mark.parametrize("q", [
    # single aliased COUNT over a BOOLEAN pivot key (ADVICE r10 #1):
    # Spark names the pivot columns "true"/"false" but the compiler
    # reconstructed them as str(True)="True"/"False", so BOTH the
    # {value}_{alias} rename and the COUNT zero-coalesce silently
    # skipped — g=2's false_c cell stayed NULL instead of 0 and the
    # columns missed their _c suffix
    'WITH p AS (PIVOT b ON flag USING count(v) AS c GROUP BY g) '
    'SELECT g, CAST(false_c AS BIGINT) AS fc, CAST(true_c AS BIGINT) '
    'AS tc FROM p ORDER BY g',
    # multi-aggregate form: same reconstruction bug in the multi-agg
    # coalesce loop
    'WITH p AS (PIVOT b ON flag USING count(v) AS c, sum(v) AS s '
    'GROUP BY g) SELECT g, CAST(false_c AS BIGINT) AS fc, '
    'CAST(false_s AS BIGINT) AS fs, CAST(true_c AS BIGINT) AS tc, '
    'CAST(true_s AS BIGINT) AS ts FROM p ORDER BY g',
])
def test_boolean_pivot_matches_duckdb(_bool_pivot_fixture, q):
    eng, con = _bool_pivot_fixture
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()


@pytest.fixture()
def _mk_pivot_fixture(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("mk", spark.createDataFrame(
        [(1, 'x', 1, 5), (1, 'y', 2, 6), (2, 'x', 1, 7)],
        "g int, a string, b int, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE mk(g int, a varchar, b int, v int); "
                "INSERT INTO mk VALUES (1,'x',1,5),(1,'y',2,6),"
                "(2,'x',1,7)")
    return eng, con


@pytest.mark.parametrize("q", [
    # r11 (VERDICT r10 Next #5): multi-key simplified PIVOT — each
    # key discovers independently, columns CROSS (x_2/y_1 never
    # co-occur yet exist), first key major, '_'-joined names
    "WITH w AS (PIVOT mk ON a, b USING sum(v) GROUP BY g) "
    "SELECT g, CAST(x_1 AS BIGINT) AS x1, CAST(x_2 AS BIGINT) AS x2, "
    "CAST(y_1 AS BIGINT) AS y1, CAST(y_2 AS BIGINT) AS y2 "
    "FROM w ORDER BY g",
    # aliased single aggregate: {va}_{vb}_{alias}
    "WITH w AS (PIVOT mk ON a, b USING sum(v) AS s GROUP BY g) "
    "SELECT g, CAST(x_1_s AS BIGINT) AS x1s, CAST(y_2_s AS BIGINT) "
    "AS y2s FROM w ORDER BY g",
    # multi-aggregate: agg-minor within each combination, COUNT
    # empty cells coalesce to 0
    "WITH w AS (PIVOT mk ON a, b USING sum(v) AS s, count(v) AS c "
    "GROUP BY g) SELECT g, CAST(x_1_s AS BIGINT) AS a1, "
    "CAST(x_1_c AS BIGINT) AS a2, CAST(x_2_c AS BIGINT) AS a3, "
    "CAST(y_2_s AS BIGINT) AS a4 FROM w ORDER BY g",
])
def test_multikey_pivot_matches_duckdb(_mk_pivot_fixture, q):
    eng, con = _mk_pivot_fixture
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()


def test_multikey_pivot_column_order_matches_duckdb(_mk_pivot_fixture):
    eng, con = _mk_pivot_fixture
    q = "PIVOT mk ON a, b USING sum(v) GROUP BY g"
    assert eng.sql(q).columns == \
        [d[0] for d in con.execute(q).description]


def test_pivot_value_colliding_with_id_column_matches_duckdb(spark):
    """r11 (VERDICT r10 Next #7 review): a discovered pivot value
    whose name equals an id column. The rename is POSITIONAL now —
    the old name-based withColumnRenamed renamed BOTH 'g' columns,
    clobbering the id; DuckDB dedups the VALUE column to g_1 /
    keeps g_s apart, and column order + values must match."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("pc", spark.createDataFrame(
        [(1, 'g', 5), (1, 'x', 6), (2, 'g', 7)],
        "g int, k string, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE pc(g int, k varchar, v int); "
                "INSERT INTO pc VALUES (1,'g',5),(1,'x',6),(2,'g',7)")
    for q in ["PIVOT pc ON k USING sum(v) GROUP BY g",
              "PIVOT pc ON k USING sum(v) AS s GROUP BY g",
              "PIVOT pc ON k USING count(v) AS c, sum(v) AS s "
              "GROUP BY g"]:
        sdf = eng.sql(q).orderBy("g")
        r = con.execute(q + " ORDER BY g")
        assert sdf.columns == [d[0] for d in r.description], q
        assert [tuple(x) for x in sdf.collect()] == r.fetchall(), q


def test_multikey_pivot_double_keys(spark):
    """r12 (VERDICT r11 wrong #2): DOUBLE pivot keys. Match values
    are now rendered by Spark itself (typed one-row-per-value frame
    -> cast("string")), so repr-divergent doubles can no longer make
    a pivot column silently all-NULL."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    # renders that agree across Python/Spark/DuckDB: full DuckDB
    # differential including names
    eng.register_local_df("md", spark.createDataFrame(
        [(1, 0.5, 'x', 5), (1, 1.5, 'y', 6), (2, 0.5, 'x', 7)],
        "g int, a double, b string, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE md(g int, a double, b varchar, v int);"
                "INSERT INTO md VALUES (1,0.5,'x',5),(1,1.5,'y',6),"
                "(2,0.5,'x',7)")
    q = "PIVOT md ON a, b USING sum(v) AS s GROUP BY g"
    sdf = eng.sql(q).orderBy("g")
    r = con.execute(q + " ORDER BY g")
    assert sdf.columns == [d[0] for d in r.description]
    assert [tuple(x) for x in sdf.collect()] == r.fetchall()
    # repr-divergent double: Python str(1e20)='1e+20' but Spark's
    # cast renders '1.0E20' — the OLD str()-rendered match value
    # missed every row, leaving the cell silently NULL (and COUNT
    # coalescing to 0). The Spark-rendered match must find the rows.
    eng.register_local_df("mx", spark.createDataFrame(
        [(1, 1e20, 'x', 5), (1, 1e20, 'x', 6)],
        "g int, a double, b string, v int"))
    out = eng.sql("PIVOT mx ON a, b USING sum(v) AS s GROUP BY g") \
        .collect()
    assert len(out) == 1
    vals = [v for v in out[0].asDict().values() if v is not None]
    assert 11 in vals       # 5+6 actually aggregated, not NULL


def test_multikey_pivot_refusals(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("mn", spark.createDataFrame(
        [(1, 'x', None, 5), (1, 'y', 1, 6)],
        "g int, a string, b int, v int"))
    with pytest.raises(NotImplementedError, match="NULL"):
        eng.sql("PIVOT mn ON a, b USING sum(v) GROUP BY g").collect()
    # final-name collision: ('x','1_1') and ('x_1','1') both render
    # x_1_1 once '_'-joined — the tuple-exact matching stays sound
    # but the DISPLAY names collide, so refuse loudly
    eng.register_local_df("mc", spark.createDataFrame(
        [(1, 'x', '1_1', 5), (1, 'x_1', '1', 6)],
        "g int, a string, b string, v int"))
    with pytest.raises(ValueError, match="collide"):
        eng.sql("PIVOT mc ON a, b USING sum(v) GROUP BY g").collect()


def test_tablesample_deterministic_and_matches_replayed_predicate(spark):
    """r11 (VERDICT r10 Next #6): TABLESAMPLE BERNOULLI lowers to the
    deterministic seed-salted md5-prefix filter; DuckDB replays the
    identical predicate (its native TABLESAMPLE is an RNG draw).
    r12: key is the unambiguous per-column-md5 form, threshold is
    4-hex (1/65536)."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("s", spark.createDataFrame(
        [(i, f"v{i % 3}") for i in range(200)], "k bigint, lab string"))
    q = ("SELECT k, lab FROM s TABLESAMPLE BERNOULLI(25) "
         "REPEATABLE (7) ORDER BY k")
    got = [tuple(r) for r in eng.sql(q).collect()]
    got2 = [tuple(r) for r in eng.sql(q).collect()]
    assert got == got2 and 0 < len(got) < 200
    con = duckdb.connect()
    con.execute("CREATE TABLE s AS SELECT * FROM (SELECT "
                "unnest(range(200)) AS k)")
    # round(25/100*65536) = 16384 = 0x4000
    want = con.execute(
        "SELECT k, 'v' || CAST(k % 3 AS VARCHAR) AS lab FROM s "
        "WHERE substring(md5(concat('7|', "
        "coalesce(md5(CAST(k AS VARCHAR)), 'N'), "
        "coalesce(md5('v' || CAST(k % 3 AS VARCHAR)), 'N'))), "
        "1, 4) < '4000' ORDER BY k").fetchall()
    assert got == want
    # alias + percent keyword forms parse; p=100 keeps everything
    assert eng.sql("SELECT t.k FROM s t TABLESAMPLE BERNOULLI"
                   "(100 PERCENT)").count() == 200
    # NULL renders the explicit sentinel (never merges with neighbors)
    eng.register_local_df("sn", spark.createDataFrame(
        [(1, None), (2, "x")], "k bigint, lab string"))
    assert eng.sql("SELECT k FROM sn TABLESAMPLE BERNOULLI(50) "
                   "REPEATABLE (1)").count() >= 0


def test_tablesample_key_unambiguous(spark):
    """r12 (ADVICE r11 #3): distinct rows must hash independently.
    Under the old concat_ws key, ('a|b','c') vs ('a','b|c') and
    ('a',NULL) vs (NULL,'a') rendered identically and co-sampled; the
    per-column-md5 key gives each its own inclusion draw. Expected
    inclusion computed independently with hashlib (Spark/DuckDB md5
    agree with Python's)."""
    import hashlib

    from datafusion_federation_spark.engine import FederationEngine

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def included(seed, pct, cols) -> bool:
        key = f"{seed}|" + "".join(
            "N" if c is None else md5(c) for c in cols)
        return md5(key)[:4] < format(round(pct / 100 * 65536), "04x")

    eng = FederationEngine(spark)
    rows = [("a|b", "c"), ("a", "b|c"), ("a", None), (None, "a")]
    eng.register_local_df("amb", spark.createDataFrame(
        rows, "x string, y string"))
    # scan seeds until the separator-injection pair AND the
    # NULL-placement pair each split (one in, one out) — proves the
    # rows draw independently; then check the engine agrees with the
    # hashlib prediction row-for-row
    for seed in range(200):
        inc = [included(seed, 50, r) for r in rows]
        if inc[0] != inc[1] and inc[2] != inc[3]:
            break
    else:
        raise AssertionError("no splitting seed in 200 — key broken?")
    got = sorted((tuple(r) for r in eng.sql(
        f"SELECT x, y FROM amb TABLESAMPLE BERNOULLI(50) "
        f"REPEATABLE ({seed})").collect()), key=repr)
    want = sorted((r for r, i in zip(rows, inc) if i), key=repr)
    assert got == want


def test_tablesample_sub_percent_rates(spark):
    """r12 (VERDICT r11 Next #4): 4-hex granularity keeps sub-0.2%
    rates non-degenerate; rates below 1/65536 refuse loudly; p=0 is
    an empty (not refused) sample."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("big", spark.range(0, 200_000)
                          .selectExpr("id AS k"))
    # p = 0.05% -> round(0.0005*65536) = 33 buckets; expectation ~100
    # rows out of 200k — assert non-empty and well under 1%
    n = eng.sql("SELECT k FROM big TABLESAMPLE BERNOULLI(0.05) "
                "REPEATABLE (3)").count()
    assert 0 < n < 2_000
    with pytest.raises(ValueError, match="granularity"):
        eng.sql("SELECT k FROM big TABLESAMPLE BERNOULLI(0.0001) "
                "REPEATABLE (3)").count()
    assert eng.sql("SELECT k FROM big TABLESAMPLE BERNOULLI(0) "
                   "REPEATABLE (3)").count() == 0


def test_using_sample_matches_tablesample(spark):
    """r11: DuckDB's `USING SAMPLE` spelling lowers to the SAME
    deterministic hash-Bernoulli as TABLESAMPLE — equal seeds select
    equal rows across all three accepted forms — and join-USING(col)
    stays intact (two-token lookahead)."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("s", spark.createDataFrame(
        [(i, i % 3) for i in range(200)], "k bigint, g bigint"))
    want = [tuple(r) for r in eng.sql(
        "SELECT k FROM s TABLESAMPLE BERNOULLI(25) REPEATABLE (7) "
        "ORDER BY k").collect()]
    for q in [
        "SELECT k FROM s USING SAMPLE bernoulli(25%) REPEATABLE (7) "
        "ORDER BY k",
        "SELECT k FROM s USING SAMPLE 25% (bernoulli, 7) ORDER BY k",
        "SELECT k FROM s USING SAMPLE 25 PERCENT (bernoulli, 7) "
        "ORDER BY k",
    ]:
        assert [tuple(r) for r in eng.sql(q).collect()] == want, q
    # join USING (col) is untouched by the lookahead
    eng.register_local_df("t2", spark.createDataFrame(
        [(0, 'a'), (1, 'b')], "g bigint, lab string"))
    n = eng.sql("SELECT s.k, t2.lab FROM s JOIN t2 USING (g)").count()
    assert n > 0


def test_using_sample_refusals(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sqlfront import SqlParseError
    eng = FederationEngine(spark)
    eng.register_local_df("s", spark.createDataFrame(
        [(1,)], "k bigint"))
    with pytest.raises(SqlParseError, match="SYSTEM"):
        eng.sql_plan("SELECT * FROM s USING SAMPLE 10%")
    with pytest.raises(SqlParseError, match="reservoir"):
        eng.sql_plan("SELECT * FROM s USING SAMPLE 10 ROWS")
    with pytest.raises(SqlParseError, match="not rerun-stable"):
        eng.sql_plan("SELECT * FROM s USING SAMPLE reservoir(10%)")
    with pytest.raises(SqlParseError, match="bernoulli"):
        eng.sql_plan("SELECT * FROM s USING SAMPLE 10% (system)")


def test_tablesample_refusals(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sqlfront import SqlParseError
    eng = FederationEngine(spark)
    eng.register_local_df("s", spark.createDataFrame(
        [(1,)], "k bigint"))
    with pytest.raises(SqlParseError, match="block sampling"):
        eng.sql_plan("SELECT * FROM s TABLESAMPLE SYSTEM(10)")
    with pytest.raises(SqlParseError, match="BERNOULLI"):
        eng.sql_plan("SELECT * FROM s TABLESAMPLE RESERVOIR(10)")
    with pytest.raises(SqlParseError, match="outside"):
        eng.sql_plan("SELECT * FROM s TABLESAMPLE BERNOULLI(150)")


def test_tablesample_pushes_into_remote_sql(spark):
    """r12 (pushdown graduation): a statically-typed sampled relation
    lowers to a plan-IR Filter at parse time, so the WHOLE query —
    predicate included — claims into ONE remote SQL (at 100 TB the
    remote engine samples; the old node-stays-local shape pulled the
    full table to Spark first). Rows must equal the local lowering's
    on the same data and seed."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, TableSample, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="ts_duck", compute_context="test")
    ex.register_parquet("customer", f"{TESTDATA}/customer.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "customer")
    q = ("SELECT c_custkey FROM (SELECT c_custkey FROM customer) c "
         "TABLESAMPLE BERNOULLI(50) REPEATABLE (3) ORDER BY c_custkey")
    fed = federate(eng.sql_plan(q).plan)
    assert not [x for x in walk_plan(fed) if isinstance(x, TableSample)]
    rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    assert len(rq) == 1 and "md5" in rq[0].sql.lower(), \
        "sample predicate did not ride inside the remote SQL"
    got = [r[0] for r in eng.execute(fed).collect()]
    assert 0 < len(got) < 150
    # identical rows when the same data is LOCAL (one deterministic
    # lowering, two execution paths)
    eng2 = FederationEngine(spark)
    eng2.register_local_parquet("customer",
                                f"{TESTDATA}/customer.parquet")
    assert got == [r[0] for r in eng2.sql(q).collect()]


def test_tablesample_unstable_types_stay_local(spark):
    """DOUBLE/timestamp columns render differently across engines'
    CAST-to-string — the lowering must keep the TableSample node (the
    compiler samples locally; the input still claims)."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, TableSample, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="ts_duck2", compute_context="test2")
    ex.register_parquet("customer", f"{TESTDATA}/customer.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "customer")
    # c_acctbal is DOUBLE -> unstable render -> node survives
    q = ("SELECT c_custkey FROM (SELECT c_custkey, c_acctbal "
         "FROM customer) c TABLESAMPLE BERNOULLI(50) REPEATABLE (3)")
    fed = federate(eng.sql_plan(q).plan)
    ts = [x for x in walk_plan(fed) if isinstance(x, TableSample)]
    assert len(ts) == 1
    assert isinstance(ts[0].input, RemoteQueryNode)   # input claimed
    assert 0 < eng.execute(fed).count() < 150


def test_tablesample_sqlite_degrades_local(spark):
    """sqlite has no md5(): the lowered Filter refuses at unparse and
    compiles locally — the standard capability-gate degrade — with
    the scan still claimed."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        Filter, RemoteQueryNode, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        SQLiteExecutor, SQLProvider)
    ex = SQLiteExecutor(name="ts_lite", compute_context="testlite")
    ex.load_rows("s", "CREATE TABLE s (k INTEGER, lab TEXT)",
                 [(i, f"v{i % 3}") for i in range(100)])
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "s")
    q = ("SELECT k FROM s TABLESAMPLE BERNOULLI(40) REPEATABLE (5) "
         "ORDER BY k")
    fed = federate(eng.sql_plan(q).plan)
    rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    assert rq and all("md5" not in x.sql.lower() for x in rq)
    assert any(isinstance(x, Filter) for x in walk_plan(fed))
    got = [r[0] for r in eng.execute(fed).collect()]
    assert 0 < len(got) < 100
    # equal rows vs the same data sampled locally (same lowering)
    eng2 = FederationEngine(spark)
    eng2.register_local_df("s", spark.createDataFrame(
        [(i, f"v{i % 3}") for i in range(100)], "k bigint, lab string"))
    assert got == [r[0] for r in eng2.sql(q).collect()]


def test_unpivot_input_federates_node_stays_local(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, Unpivot, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="unpv_duck", compute_context="test")
    ex.register_parquet("lineitem", f"{TESTDATA}/lineitem.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "lineitem")
    q = ("SELECT measure, CAST(COUNT(*) AS BIGINT) AS n FROM "
         "(SELECT l_quantity, l_tax FROM lineitem) b "
         "UNPIVOT (amt FOR measure IN (l_quantity, l_tax)) "
         "GROUP BY measure ORDER BY measure")
    fed = federate(eng.sql_plan(q).plan)
    up = next(x for x in walk_plan(fed) if isinstance(x, Unpivot))
    assert isinstance(up.input, RemoteQueryNode)   # input claimed
    rows = {r.measure: r.n for r in eng.execute(fed).collect()}
    con = duckdb.connect()
    n = con.execute(f"SELECT COUNT(*) FROM "
                    f"'{TESTDATA}/lineitem.parquet'").fetchone()[0]
    assert rows == {"l_quantity": n, "l_tax": n}


def test_semi_join_federates_to_native_duckdb(spark):
    # both sides on ONE DuckDB provider: the SEMI JOIN must claim as a
    # single remote query rendered with DuckDB's native SEMI JOIN
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="semi_duck", compute_context="test")
    ex.register_parquet("customer", f"{TESTDATA}/customer.parquet")
    ex.register_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "customer")
    eng.register_remote(prov, "orders")
    q = ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n "
         "FROM customer SEMI JOIN orders ON c_custkey = o_custkey "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    fed = federate(eng.sql_plan(q).plan)
    remotes = [x for x in walk_plan(fed)
               if isinstance(x, RemoteQueryNode)]
    assert len(remotes) == 1 and "SEMI JOIN" in remotes[0].sql
    got = [tuple(r) for r in eng.execute(fed).collect()]
    con = duckdb.connect()
    for t_ in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t_} AS SELECT * FROM "
                    f"'{TESTDATA}/{t_}.parquet'")
    assert got == con.execute(q).fetchall()


def test_within_group_windowed_local_only(spark):
    # no target engine runs ordered-set aggregates as window functions
    # (DuckDB parse error, Postgres rejects OVER) — the unparser
    # refuses (golden) and the LOCAL lowering windows only the inner
    # aggregate, keeping the disc index arithmetic row-level
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 9.0), (2, 5.0)], "g int, v double"))
    rows = eng.sql(
        "SELECT g, v, "
        "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) "
        "  OVER (PARTITION BY g) AS med, "
        "PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) "
        "  OVER (PARTITION BY g) AS dmed "
        "FROM t ORDER BY g, v").collect()
    assert [tuple(r) for r in rows] == [
        (1, 1.0, 2.0, 2.0), (1, 2.0, 2.0, 2.0), (1, 9.0, 2.0, 2.0),
        (2, 5.0, 5.0, 5.0)]


@pytest.mark.parametrize("call", [
    "SUM(v) FILTER (WHERE v > 10) OVER (PARTITION BY g ORDER BY k, v "
    "NULLS FIRST ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE "
    "CURRENT ROW)",
    "CAST(COUNT(*) FILTER (WHERE v IS NOT NULL) OVER (PARTITION BY g "
    "ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW "
    "EXCLUDE GROUP) AS BIGINT)",
    "CAST(AVG(v) FILTER (WHERE v <> 20) OVER (PARTITION BY g ORDER BY "
    "k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE "
    "TIES) AS DOUBLE)",
])
def test_frame_exclude_with_filter_matches_duckdb(_excl_fixture, call):
    # FILTER composes with the exclusion arithmetic (review r7 s4):
    # the mask applies to the full-frame agg, the peer agg, AND the
    # row's own contribution
    eng, con = _excl_fixture
    q = (f"SELECT g, k, v, {call} AS x FROM t "
         f"ORDER BY g, k, v NULLS FIRST")
    assert [tuple(r) for r in eng.sql(q).collect()] \
        == con.execute(q).fetchall()


def test_qualify_over_aggregates_shapes(spark):
    # window-spec aggregates (bare and inside ORDER BY), hidden
    # aggregates not in the select list, HAVING composition — all vs
    # DuckDB on identical SQL (r7 s4)
    from datafusion_federation_spark.engine import FederationEngine
    rows = [(1, 'a', 10), (1, 'b', 30), (2, 'a', 5), (2, 'b', 6),
            (3, 'a', 100)]
    eng = FederationEngine(spark)
    eng.register_local_df(
        "tq", spark.createDataFrame(rows, "g int, k string, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE tq(g int, k varchar, v int)")
    con.executemany("INSERT INTO tq VALUES (?,?,?)", rows)
    for q in (
        "SELECT g, k, CAST(SUM(v) AS BIGINT) AS s FROM tq GROUP BY g, k "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY SUM(v) "
        "DESC, k) = 1 ORDER BY g",
        "SELECT g FROM tq GROUP BY g "
        "QUALIFY RANK() OVER (ORDER BY COUNT(*) DESC, g) <= 2 ORDER BY g",
        "SELECT g, CAST(SUM(v) AS BIGINT) AS s FROM tq GROUP BY g "
        "HAVING COUNT(*) >= 1 QUALIFY SUM(v) > 10 AND ROW_NUMBER() "
        "OVER (ORDER BY SUM(v) DESC) <= 2 ORDER BY g",
    ):
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    # post-aggregation key expressions stay refused with QUALIFY
    with pytest.raises(SqlParseError, match="post-aggregation"):
        eng.sql_plan(
            "SELECT COALESCE(CAST(g AS VARCHAR), 'x') AS gg, COUNT(*) "
            "AS n FROM tq GROUP BY g QUALIFY ROW_NUMBER() OVER "
            "(ORDER BY n) = 1")


def test_count_distinct_over_window_matches_duckdb(spark):
    # Spark refuses DISTINCT window aggregates; the collect_set-size
    # lowering honors frames, NULL-skip, and FILTER (r7 s4)
    from datafusion_federation_spark.engine import FederationEngine
    rows = [(1, 1, 'a'), (1, 2, 'a'), (1, 3, 'b'), (1, 4, None),
            (2, 1, 'z')]
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(rows, "g int, k int, s string"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g int, k int, s varchar)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    for q in (
        "SELECT g, k, CAST(COUNT(DISTINCT s) OVER (PARTITION BY g "
        "ORDER BY k) AS BIGINT) c FROM t ORDER BY g, k",
        "SELECT g, k, CAST(COUNT(DISTINCT s) FILTER (WHERE k <> 2) "
        "OVER (PARTITION BY g ORDER BY k) AS BIGINT) c FROM t "
        "ORDER BY g, k",
        "SELECT g, k, CAST(COUNT(DISTINCT s) OVER (PARTITION BY g "
        "ORDER BY k ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS "
        "BIGINT) c FROM t ORDER BY g, k",
    ):
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    # SUM DISTINCT over a window graduated r8: typed collect_set fold
    # (seeded with the set's first element, keeping integer sums
    # integral) — value-pinned vs DuckDB in tests/test_r8_lowerings.py
    q = ("SELECT g, k, CAST(SUM(DISTINCT k) OVER (PARTITION BY g) AS "
         "BIGINT) AS x FROM t ORDER BY g, k")
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()
    # aggregates with no distinct-set lowering still refuse
    with pytest.raises(NotImplementedError, match="COUNT/SUM/AVG"):
        eng.sql("SELECT STDDEV(DISTINCT k) OVER (PARTITION BY g) AS x "
                "FROM t")


def test_qualify_over_agg_federates_whole_query(spark):
    # single-provider QUALIFY-over-aggregate collapses to ONE remote
    # query: the hidden __qa aggregate and the window filter render as
    # nested derived tables (r7 s4 probe, promoted to a pin)
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="qa_duck", compute_context="test")
    ex.register_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "orders")
    q = ("SELECT o_orderpriority, o_orderstatus, "
         "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS "
         "DOUBLE) AS total FROM orders "
         "GROUP BY o_orderpriority, o_orderstatus "
         "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
         "ORDER BY SUM(o_totalprice) DESC, o_orderstatus) = 1 "
         "ORDER BY o_orderpriority")
    fed = federate(eng.sql_plan(q).plan)
    remotes = [x for x in walk_plan(fed)
               if isinstance(x, RemoteQueryNode)]
    assert len(remotes) == 1 and "row_number() OVER" in remotes[0].sql
    got = [tuple(r) for r in eng.execute(fed).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{TESTDATA}/orders.parquet'")
    assert got == con.execute(q).fetchall()


def test_fetch_first_ansi_spelling(spark):
    # FETCH FIRST|NEXT [n] ROW[S] ONLY and OFFSET n ROWS — ANSI
    # alternatives to LIMIT/OFFSET, same Limit node (r7 s4)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"'{TESTDATA}/nation.parquet'")
    for q in (
        "SELECT n_name FROM nation ORDER BY n_nationkey "
        "FETCH FIRST 3 ROWS ONLY",
        "SELECT n_name FROM nation ORDER BY n_nationkey "
        "OFFSET 2 ROWS FETCH NEXT 2 ROWS ONLY",
        "SELECT n_name FROM nation ORDER BY n_nationkey "
        "FETCH FIRST ROW ONLY",
    ):
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    # WITH TIES graduated r8 (boundary-probe lowering, value-pinned vs
    # DuckDB in tests/test_r8_lowerings.py); it still parses to a
    # DISTINCT node shape — and refuses without ORDER BY (ANSI)
    p = parse("SELECT a FROM t ORDER BY a FETCH FIRST 2 ROWS WITH TIES")
    assert isinstance(p, Limit) and p.with_ties and p.fetch == 2
    with pytest.raises(SqlParseError, match="ORDER BY"):
        parse("SELECT a FROM t FETCH FIRST 2 ROWS WITH TIES")


def test_order_by_hidden_column(spark):
    # ORDER BY a column the select list does not expose — carried as a
    # hidden projection column and dropped after the sort (r7 s4); the
    # group-key form rides the same path because the restoring
    # projection's input still outputs the key
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"'{TESTDATA}/nation.parquet'")
    for q in (
        "SELECT n_name FROM nation WHERE n_regionkey < 3 "
        "ORDER BY n_nationkey DESC LIMIT 4",
        "SELECT UPPER(n_name) AS u FROM nation "
        "ORDER BY n_regionkey, n_nationkey LIMIT 5",
        "SELECT CAST(SUM(n_nationkey) AS BIGINT) AS s FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    ):
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    df = eng.sql("SELECT n_name FROM nation ORDER BY n_nationkey")
    assert df.columns == ["n_name"]          # hidden column dropped


def test_window_chaining(spark):
    # SQL:2003 window inheritance (r7 s4): WINDOW w2 AS (w1 ORDER BY k)
    # and inline OVER (w1 ORDER BY k [frame]) — the base supplies the
    # partitioning; bare OVER w keeps applying whole, frame included
    from datafusion_federation_spark.engine import FederationEngine
    rows = [(1, 1, 10), (1, 2, 20), (2, 1, 5)]
    eng = FederationEngine(spark)
    eng.register_local_df(
        "t", spark.createDataFrame(rows, "g int, k int, v int"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g int, k int, v int)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    for q in (
        "SELECT g, k, CAST(SUM(v) OVER w2 AS BIGINT) AS s FROM t "
        "WINDOW w1 AS (PARTITION BY g), w2 AS (w1 ORDER BY k) "
        "ORDER BY g, k",
        "SELECT g, k, CAST(RANK() OVER (w1 ORDER BY k) AS BIGINT) AS r "
        "FROM t WINDOW w1 AS (PARTITION BY g) ORDER BY g, k",
        "SELECT g, k, CAST(SUM(v) OVER (w1 ORDER BY k ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS s FROM t "
        "WINDOW w1 AS (PARTITION BY g) ORDER BY g, k",
        "SELECT g, k, CAST(SUM(v) OVER w1 AS BIGINT) AS s FROM t "
        "WINDOW w1 AS (PARTITION BY g ORDER BY k ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) ORDER BY g, k",
    ):
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    # inheritance violations refuse loudly
    with pytest.raises(SqlParseError, match="PARTITION BY"):
        parse("SELECT SUM(v) OVER (w1 PARTITION BY k) FROM t "
              "WINDOW w1 AS (PARTITION BY g)")
    with pytest.raises(SqlParseError, match="already orders"):
        parse("SELECT SUM(v) OVER (w1 ORDER BY v) FROM t "
              "WINDOW w1 AS (PARTITION BY g ORDER BY k)")
    with pytest.raises(SqlParseError, match="frame"):
        parse("SELECT SUM(v) OVER (w1 ORDER BY v) FROM t WINDOW w1 AS "
              "(PARTITION BY g ROWS BETWEEN 1 PRECEDING AND "
              "CURRENT ROW)")
    with pytest.raises(SqlParseError, match="undefined"):
        parse("SELECT SUM(v) OVER w2 FROM t "
              "WINDOW w2 AS (w9 ORDER BY k)")


def test_pivot_empty_count_cell_is_zero(_pivot_fixture):
    # fuzzer finding (r7 s4): an empty pivot cell is the aggregate over
    # ZERO rows — COUNT gives 0 where Spark's pivot leaves NULL; SUM
    # stays NULL on both
    eng, con = _pivot_fixture
    q = ("SELECT g, CAST(\"z\" AS BIGINT) AS zc FROM p "
         "PIVOT (COUNT(v) FOR k IN ('z')) ORDER BY g")
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()
    assert all(r[1] == 0 for r in got)
    qs = ("SELECT g, \"z\" AS zs FROM p "
          "PIVOT (SUM(v) FOR k IN ('z')) ORDER BY g")
    gots = [tuple(r) for r in eng.sql(qs).collect()]
    assert gots == con.execute(qs).fetchall()
    assert all(r[1] is None for r in gots)


# ---------------------------------------------------------------------------
# _expr_key totality (ADVICE r8): HAVING/QUALIFY alongside constructs the
# ANSI unparser refuses must still parse and run locally
# ---------------------------------------------------------------------------

def test_having_with_within_group_parses():
    p = parse("SELECT a, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY b) "
              "AS med FROM t GROUP BY a HAVING COUNT(*) > 1")
    assert isinstance(p, (Project, Filter))


def test_qualify_with_distinct_window_agg_parses():
    # SUM(DISTINCT) OVER has no ANSI spelling; the canonical key must
    # fall back structurally instead of crashing the parse
    p = parse("SELECT a, COUNT(DISTINCT b) OVER (PARTITION BY a) AS s "
              "FROM t QUALIFY s > 1")
    assert isinstance(p, Filter)


def test_having_within_group_executes_against_oracle(duckdb_engine):
    eng, _ex = duckdb_engine
    sql = ("SELECT o_orderpriority, "
           "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) "
           "AS med FROM orders GROUP BY o_orderpriority "
           "HAVING COUNT(*) > 5")
    got = sorted((r[0], round(r[1], 4)) for r in eng.sql(sql).collect())
    want = sorted((r[0], round(r[1], 4)) for r in _oracle(sql))
    assert got == want


# ---------------------------------------------------------------------------
# supports_agg_order_by (ADVICE r8): in-call ordered aggregates only ship
# to dialects that spell them; everyone else compiles locally
# ---------------------------------------------------------------------------

def test_ordered_agg_unparse_gated_by_dialect():
    from datafusion_federation_spark.dialects import (
        UnsupportedUnparse, get_dialect)
    from datafusion_federation_spark.expressions import (
        AggFunc, Col, Lit, SortKey)
    agg = AggFunc("string_agg", [Col("x"), Lit(",")],
                  order_by=[SortKey(Col("k"), ascending=True)])
    for name in ("duckdb", "postgres"):
        s = agg.to_sql(get_dialect(name))
        assert "ORDER BY" in s
    for name in ("mysql", "derby", "spark", "ansi"):
        with pytest.raises(UnsupportedUnparse):
            agg.to_sql(get_dialect(name))


def test_ordered_agg_keeps_subtree_local_on_nonsupporting_dialect(spark):
    # a Derby-backed claim containing string_agg(... ORDER BY ...) must
    # refuse at unparse and compile locally — not ship invalid SQL
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    sql = ("SELECT o_orderpriority, "
           "STRING_AGG(CAST(o_orderkey AS STRING), ',' "
           "ORDER BY o_orderkey) AS ks "
           "FROM orders WHERE o_orderkey < 100 GROUP BY o_orderpriority")
    got = {r.o_orderpriority: r.ks for r in eng.sql(sql).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/orders.parquet')")
    want = {r[0]: r[1] for r in con.execute(
        "SELECT o_orderpriority, STRING_AGG(CAST(o_orderkey AS VARCHAR), "
        "',' ORDER BY o_orderkey) FROM orders WHERE o_orderkey < 100 "
        "GROUP BY o_orderpriority").fetchall()}
    assert got == want


# ---------------------------------------------------------------------------
# higher-order lambda syntax (r8): x -> body at function-argument position
# ---------------------------------------------------------------------------

def test_lambda_parses_single_and_multi_param():
    from datafusion_federation_spark.expressions import Func, Lambda, walk
    p = parse("SELECT transform(a, x -> x + 1) AS t, "
              "aggregate(a, 0, (acc, v) -> acc + v) AS s FROM t")
    lams = [x for e in p.projections for x in walk(e)
            if isinstance(x, Lambda)]
    assert len(lams) == 2
    assert lams[0].params == ["x"] and lams[1].params == ["acc", "v"]


def test_lambda_lookahead_does_not_eat_parenthesized_exprs():
    # (a, b) without an arrow is an ordinary argument list; (a + b) is
    # an ordinary parenthesized expression
    p = parse("SELECT least((a), b) AS m, greatest((a + b), c) AS g "
              "FROM t")
    assert len(p.projections) == 2


def test_lambda_renders_spark_only():
    from datafusion_federation_spark.dialects import (
        UnsupportedUnparse, get_dialect)
    from datafusion_federation_spark.expressions import (
        Col, Func, Lambda, Lit)
    f = Func("transform", [Col("a"),
                           Lambda(["x"], Col("x") + Lit(1))])
    s = f.to_sql(get_dialect("spark"))
    assert "x -> (`x` + 1)" in s
    for d in ("ansi", "duckdb", "postgres", "sqlite", "mysql", "derby"):
        with pytest.raises(UnsupportedUnparse):
            f.to_sql(get_dialect(d))


def test_lambda_executes_against_duckdb(spark):
    # same math, per-engine HOF names (Spark transform/filter/aggregate
    # vs DuckDB list_transform/list_filter/list_reduce)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [0.5, 0.5, None])],
        "k INT, a ARRAY<DOUBLE>"))
    got = sorted(tuple(r) for r in eng.sql(
        "SELECT k, aggregate(filter(a, x -> x > 0), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v) AS s, "
        "size(transform(a, x -> x * 2)) AS n FROM t").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k INT, a DOUBLE[])")
    con.execute("INSERT INTO t VALUES (1, [1.0, -2.0, 3.0]), "
                "(2, [0.5, 0.5, NULL])")
    want = sorted(map(tuple, con.execute(
        "SELECT k, list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_filter(a, x -> x > 0)), (acc, v) -> acc + v) AS s, "
        "len(list_transform(a, x -> x * 2)) AS n FROM t").fetchall()))
    assert got == want


def test_lambda_keeps_scan_federated_but_call_local(duckdb_engine):
    # the Lambda renders only in the Spark dialect, so a fully-remote
    # claim refuses and the projection compiles locally — while the
    # scan beneath still federates
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    eng, _ex = duckdb_engine
    plan = eng.sql_plan(
        "SELECT c_custkey, size(filter(ARRAY(c_custkey, c_nationkey), "
        "x -> x > 5)) AS n FROM customer WHERE c_custkey < 10").plan
    fed = federate(plan)
    assert not isinstance(fed, RemoteQueryNode)
    assert any(isinstance(n, RemoteQueryNode) for n in walk_plan(fed))
    rows = eng.execute(fed).collect()
    assert len(rows) == 10                      # custkeys 0..9


# Spark SQL text handed to F.expr (a lambda call, a DISTINCT aggregate
# other than count/sum) comes from the spark dialect, so literals and
# IS [NOT] DISTINCT FROM read back exactly as spark.sql reads them
@pytest.mark.parametrize("q, params", [
    ("SELECT k, transform(arr, x -> x + :p) AS r FROM hof_t",
     {"p": Decimal("1.5")}),
    ("SELECT avg(DISTINCT k + :p) AS r FROM hof_t", {"p": Decimal("1.5")}),
    ("SELECT k, filter(arr, x -> b <> :p OR x = 1) AS r FROM hof_t",
     {"p": b"ab"}),
    ("SELECT k, filter(arr, x -> x IS DISTINCT FROM 1) AS r FROM hof_t",
     None),
    ("SELECT k, filter(arr, x -> x IS NOT DISTINCT FROM 2) AS r "
     "FROM hof_t", None),
])
def test_spark_sql_text_matches_spark_sql(spark, q, params):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("hof_t", spark.createDataFrame(
        [(1, [1, 2, None], b"ab"), (2, [3, None], b"cd")],
        "k INT, arr ARRAY<INT>, b BINARY"))
    plan = eng.sql_plan(q).plan          # parsed: no view fallback
    got = sorted(map(tuple, eng.execute(plan, params=params).collect()))
    want = sorted(map(tuple, spark.sql(q, args=params).collect()))
    assert got == want


def test_grouping_set_keys_with_select_aliases(spark):
    # r8 grouping-sets fuzzer find: `SELECT k AS a ... GROUP BY
    # ROLLUP(k, ...)` restored Col('a') against an aggregate output
    # named 'k' (UNRESOLVED_COLUMN). Keys now carry select-list labels
    # as Alias members — applied POSITIONALLY after the agg because
    # Spark's GROUPING() refuses aliased grouping columns — and the
    # GROUP BY renderings strip the alias. GROUPING() composes.
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    for q in (
        "SELECT n_regionkey AS a, n_nationkey % 3 AS b, "
        "CAST(COUNT(*) AS BIGINT) AS c FROM nation "
        "GROUP BY ROLLUP (n_regionkey, n_nationkey % 3)",
        "SELECT n_regionkey AS a, CAST(GROUPING(n_regionkey) AS BIGINT) "
        "AS g, CAST(COUNT(*) AS BIGINT) AS c FROM nation "
        "GROUP BY CUBE (n_regionkey)",
        "SELECT n_regionkey AS a, n_nationkey % 2 AS b, "
        "CAST(COUNT(*) AS BIGINT) AS c FROM nation "
        "GROUP BY GROUPING SETS ((n_regionkey), (n_nationkey % 2))",
    ):
        got = sorted((tuple(r) for r in eng.sql(q).collect()),
                     key=lambda t: tuple((v is None, v) for v in t))
        want = sorted(map(tuple, con.execute(q).fetchall()),
                      key=lambda t: tuple((v is None, v) for v in t))
        assert got == want, q


# ---------------------------------------------------------------------------
# _structural_key on SparkCol (ADVICE r9): the lambda payload's repr embeds
# a memory address — keys must come from the stable `name` field instead
# ---------------------------------------------------------------------------

def test_structural_key_sparkcol_is_stable():
    from datafusion_federation_spark.expressions import Alias, SparkCol
    from datafusion_federation_spark.sqlfront import _structural_key
    a = SparkCol(lambda: None, "is_cycle")
    b = SparkCol(lambda: None, "is_cycle")     # distinct lambda object
    assert _structural_key(a) == _structural_key(b), \
        "structurally identical SparkCols must share one key"
    c = SparkCol(lambda: None, "other_col")
    assert _structural_key(a) != _structural_key(c)
    # nested inside a tree the property must survive the recursion
    assert _structural_key(Alias(a, "m")) == _structural_key(Alias(b, "m"))
    assert "0x" not in _structural_key(a), "no memory addresses in keys"


# ---------------------------------------------------------------------------
# generate_series table factor (r9): Postgres/DuckDB INCLUSIVE series
# ---------------------------------------------------------------------------

def test_generate_series_matches_duckdb(duckdb_engine):
    import duckdb as _d
    eng, _ex = duckdb_engine
    con = _d.connect()
    for sql in [
        "SELECT * FROM generate_series(1, 5) AS g(n)",
        "SELECT n FROM generate_series(2, 20, 3) AS g(n)",
        "SELECT n FROM generate_series(5, 1, -2) AS g(n)",
        "SELECT n FROM generate_series(-3, 3) AS g(n)",
        "SELECT CAST(SUM(n) AS BIGINT) AS s "
        "FROM generate_series(1, 100) AS g(n)",
    ]:
        got = sorted(tuple(r) for r in eng.sql(sql).collect())
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want, f"diverged on: {sql}\n{got}\n{want}"
    # sign-mismatched span: Postgres returns EMPTY; DuckDB raises a
    # binder error instead — this engine follows Postgres
    assert eng.sql("SELECT n FROM generate_series(5, 1) AS g(n)") \
        .collect() == []


def test_generate_series_default_column_name(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    df = eng.sql("SELECT * FROM generate_series(1, 3)")
    assert df.columns == ["generate_series"]
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]


def test_generate_series_joins_against_remote(duckdb_engine):
    # local series joined to a federated dim: the dim subtree still
    # claims its provider — the series never blocks the split
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    eng, _ex = duckdb_engine
    b = eng.sql_plan(
        "SELECT g.n, o.o_orderkey FROM generate_series(1, 5) AS g(n) "
        "JOIN orders o ON o.o_orderkey = g.n")
    fed = federate(b.plan)
    assert any(isinstance(x, RemoteQueryNode) for x in walk_plan(fed))
    rows = sorted(tuple(r) for r in eng.execute(b.plan).collect())
    assert rows == [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)]


def test_generate_series_refusals(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sqlfront import SqlParseError
    eng = FederationEngine(spark)
    import pytest as _pt
    with _pt.raises(SqlParseError, match="step"):
        eng.sql_plan("SELECT * FROM generate_series(1, 5, 0) g(n)")
    with _pt.raises(SqlParseError, match="integer constants"):
        eng.sql_plan("SELECT * FROM generate_series(1, 5.5) g(n)")


def test_generate_series_bare_alias_names_column(spark):
    """r10 (ADVICE r9 #5): Postgres single-column SRF rule — a bare
    alias with no column list renames the output column, so
    `SELECT g FROM generate_series(1,3) g` resolves."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    df = eng.sql("SELECT g FROM generate_series(1, 3) g")
    assert df.columns == ["g"]
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]
    # qualified form resolves too (Postgres: g.g)
    df2 = eng.sql("SELECT g.g FROM generate_series(1, 3) AS g")
    assert sorted(r[0] for r in df2.collect()) == [1, 2, 3]


# ---------------------------------------------------------------------------
# r10: simplified PIVOT statement with implicit value discovery
# ---------------------------------------------------------------------------

def test_bare_pivot_matches_duckdb(_pivot_fixture):
    eng, con = _pivot_fixture
    for q in [
        "PIVOT p ON k USING sum(v)",
        "PIVOT p ON k USING sum(v) GROUP BY g",
        "WITH w AS (PIVOT p ON k USING sum(v) GROUP BY g) "
        "SELECT g, x FROM w ORDER BY g",
    ]:
        got = sorted(tuple(r) for r in eng.sql(q).collect())
        want = sorted(map(tuple, con.execute(q).fetchall()))
        assert got == want, q
        assert eng.sql(q).columns == [d[0] for d in con.execute(q).description]


def test_bare_pivot_cap_refusal(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("wide", spark.range(200).selectExpr(
        "CAST(id AS STRING) AS k", "id AS v", "id % 3 AS g"))
    eng.compiler.pivot_max_values = 50
    try:
        with pytest.raises(ValueError, match="more than 50 distinct"):
            eng.sql("PIVOT wide ON k USING sum(v) GROUP BY g").collect()
    finally:
        eng.compiler.pivot_max_values = 10_000


def test_bare_pivot_null_key_refusal(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("nk", spark.createDataFrame(
        [(1, "x", 5), (2, None, 6)], "g int, k string, v int"))
    with pytest.raises(NotImplementedError, match="NULL"):
        eng.sql("PIVOT nk ON k USING sum(v) GROUP BY g").collect()


def test_bare_pivot_parse_refusals(_pivot_fixture):
    eng, _ = _pivot_fixture
    from datafusion_federation_spark.sqlfront import SqlParseError
    # r11: multi-key ON a, b GRADUATED from the 'one column' refusal —
    # it parses to a Pivot with pivot_cols set
    from datafusion_federation_spark.plans.nodes import (
        Pivot as _Pv, walk_plan as _wp)
    mk = eng.sql_plan("PIVOT p ON k, g USING sum(v)").plan
    assert any(isinstance(x, _Pv) and x.pivot_cols == ("k", "g")
               for x in _wp(mk))
    with pytest.raises(SqlParseError, match="aggregate"):
        eng.sql_plan("PIVOT p ON k USING abs(v)")
    # multi-agg without aliases: DuckDB auto-names after the SQL text,
    # which we refuse to reproduce byte-for-byte (aliased forms are a
    # feature — test_bare_pivot_multi_aggregate)
    with pytest.raises(SqlParseError, match="alias"):
        eng.sql_plan("PIVOT p ON k USING sum(v), count(v)")
    with pytest.raises(SqlParseError, match="suffix"):
        eng.sql_plan("PIVOT p ON k IN ('x') USING sum(v)")


def test_order_by_all_over_pivot_output(_pivot_fixture):
    """r10 (bare-pivot fuzzer catch): _plan_output_cols fell through
    Pivot/Unpivot to the INPUT's columns, so ORDER BY ALL over a
    pivoted relation expanded to columns the output no longer has.
    Explicit-list pivots now expand to (ids + value columns)."""
    eng, con = _pivot_fixture
    q = ("SELECT * FROM p PIVOT (SUM(v) FOR k IN ('x', 'y')) "
         "ORDER BY ALL")
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == con.execute(q).fetchall()
    q2 = ("SELECT id, n, v FROM t UNPIVOT (v FOR n IN (a, b)) "
          "ORDER BY ALL")
    got2 = [tuple(r) for r in eng.sql(q2).collect()]
    assert got2 == con.execute(q2).fetchall()


def test_bare_unpivot_matches_duckdb(_pivot_fixture):
    """r10: DuckDB's simplified UNPIVOT statement — default and INTO
    NAME/VALUE forms, top level and as a CTE body."""
    eng, con = _pivot_fixture
    for q in [
        "UNPIVOT t ON a, b",
        "UNPIVOT t ON a, b INTO NAME m VALUE v",
        "WITH u AS (UNPIVOT t ON a, b INTO NAME m VALUE v) "
        "SELECT * FROM u ORDER BY ALL",
    ]:
        got = eng.sql(q)
        assert got.columns == [d[0] for d in con.execute(q).description]
        assert sorted(tuple(r) for r in got.collect()) \
            == sorted(map(tuple, con.execute(q).fetchall())), q


def test_bare_pivot_multi_aggregate(_pivot_fixture):
    """r10: multi-aggregate USING with aliases — column naming
    ({value}_{alias}) and value-major order match DuckDB; empty COUNT
    cells are 0, empty SUM cells NULL."""
    eng, con = _pivot_fixture
    for q in [
        "PIVOT p ON k USING sum(v) AS s, count(v) AS c GROUP BY g",
        "PIVOT p ON k USING sum(v) AS s GROUP BY g",
        "WITH w AS (PIVOT p ON k USING min(v) AS lo, max(v) AS hi "
        "GROUP BY g) SELECT g, x_lo, y_hi FROM w ORDER BY g",
    ]:
        got = eng.sql(q)
        assert got.columns == [d[0] for d in con.execute(q).description], q
        assert sorted(tuple(r) for r in got.collect()) \
            == sorted(map(tuple, con.execute(q).fetchall())), q
    from datafusion_federation_spark.sqlfront import SqlParseError
    with pytest.raises(SqlParseError, match="alias"):
        eng.sql_plan("PIVOT p ON k USING sum(v), count(v) GROUP BY g")


def test_constant_projection_with_aggregates(spark):
    """r12 (found by the write-back demo): a projection referencing NO
    columns is constant under any grouping — `SELECT 'x', COUNT(*)
    FROM t` is legal everywhere and must not raise non-aggregated;
    subquery 'constants' stay refused (their compile path is not a
    post-projection)."""
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, 'a'), (2, 'a'), (3, 'b')], "k int, g string"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k int, g varchar); "
                "INSERT INTO t VALUES (1,'a'),(2,'a'),(3,'b')")
    for q in [
        "SELECT 'ALL' AS tag, CAST(COUNT(*) AS BIGINT) AS n FROM t",
        "SELECT 1 + 2 AS c, CAST(SUM(k) AS BIGINT) AS s FROM t",
        "SELECT g, 'x' AS tag, CAST(COUNT(*) AS BIGINT) AS n FROM t "
        "GROUP BY g ORDER BY g",
    ]:
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert got == con.execute(q).fetchall(), q
    with pytest.raises(Exception, match="non-aggregated|subquer"):
        eng.sql_plan("SELECT (SELECT MAX(k) FROM t) AS m, COUNT(*) "
                     "FROM t")


def test_tablesample_boolean_key_pushed_equals_local(spark):
    """r13 (VERDICT r12 Next #1): a boolean-keyed sample pushed into a
    remote engine must select the SAME rows as the local lowering and
    the hashlib prediction where booleans render 'true'/'false' and
    NULL the 'N' sentinel. The CASE render (not CAST) is what keeps
    this true on MySQL, where CAST(TINYINT(1) AS CHAR) is '1'/'0'."""
    import hashlib

    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, TableSample, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    rows = [(i, [True, False, None][i % 3]) for i in range(90)]
    ex = DuckDBExecutor(name="ts_bool_duck", compute_context="tsbool")
    ex.conn.execute("CREATE TABLE flags (k BIGINT, flag BOOLEAN)")
    ex.conn.executemany("INSERT INTO flags VALUES (?, ?)", rows)
    ex._tables["flags"] = "flags"
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "flags")
    q = ("SELECT k, flag FROM flags TABLESAMPLE BERNOULLI(50) "
         "REPEATABLE (7) ORDER BY k")
    fed = federate(eng.sql_plan(q).plan)
    assert not [x for x in walk_plan(fed) if isinstance(x, TableSample)]
    rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    assert len(rq) == 1 and "CASE WHEN" in rq[0].sql
    got = [(r[0], r[1]) for r in eng.execute(fed).collect()]

    def included(k, flag):
        fs = "N" if flag is None else md5("true" if flag else "false")
        return md5(f"7|{md5(str(k))}{fs}")[:4] < "8000"

    want = [r for r in rows if included(*r)]
    assert 0 < len(want) < 90
    assert got == want
    # identical rows when the same data is LOCAL
    eng2 = FederationEngine(spark)
    eng2.register_local_df("flags", spark.createDataFrame(
        rows, "k bigint, flag boolean"))
    assert got == [(r[0], r[1]) for r in eng2.sql(q).collect()]


def test_tablesample_over_filtered_and_cte_pushes(spark):
    """r13 (VERDICT r12 Next #4): a sample suffixed to a FILTERED
    relation or a CTE reference lowers to the pushed Filter too — a
    filter below the sample does not change the visible columns, so
    the key set is identical. One RemoteQueryNode, no TableSample
    node, rows equal the local lowering."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, TableSample, walk_plan)
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    ex = DuckDBExecutor(name="ts_flt_duck", compute_context="tsflt")
    ex.register_parquet("customer", f"{TESTDATA}/customer.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "customer")
    eng2 = FederationEngine(spark)
    eng2.register_local_parquet("customer",
                                f"{TESTDATA}/customer.parquet")
    for q in [
        # sample over a filtered derived table
        ("SELECT c_custkey FROM (SELECT c_custkey FROM customer "
         "WHERE c_custkey > 20) c TABLESAMPLE BERNOULLI(50) "
         "REPEATABLE (3) ORDER BY c_custkey"),
        # sample over a CTE reference (filter + rename inside)
        ("WITH keys AS (SELECT c_custkey AS k FROM customer "
         "WHERE c_custkey > 20) "
         "SELECT k FROM keys TABLESAMPLE BERNOULLI(50) "
         "REPEATABLE (3) ORDER BY k"),
        # stacked plain-column renames compose
        ("SELECT k2 FROM (SELECT k AS k2 FROM (SELECT c_custkey AS k "
         "FROM customer WHERE c_custkey > 20) a) b "
         "TABLESAMPLE BERNOULLI(50) REPEATABLE (3) ORDER BY k2"),
    ]:
        fed = federate(eng.sql_plan(q).plan)
        assert not [x for x in walk_plan(fed)
                    if isinstance(x, TableSample)], q
        rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
        assert len(rq) == 1 and "md5" in rq[0].sql.lower(), q
        got = [r[0] for r in eng.execute(fed).collect()]
        assert 0 < len(got) < 130, q
        assert got == [r[0] for r in eng2.sql(q).collect()], q
    # a sample over an EXPRESSION projection still stays local (the
    # key would need the computed value's engine-stable render)
    q = ("SELECT kk FROM (SELECT c_custkey + 1 AS kk FROM customer) c "
         "TABLESAMPLE BERNOULLI(50) REPEATABLE (3)")
    fed = federate(eng.sql_plan(q).plan)
    assert [x for x in walk_plan(fed) if isinstance(x, TableSample)]
