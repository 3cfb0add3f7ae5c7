"""LATERAL joins through the SQL front door (r7 s3).

Engines evaluate a LATERAL subquery once per outer row; the compiler
decorrelates to set-level plans instead (test_lateral pins each arm's
values against DuckDB running the identical SQL):
- plain body            -> equi/theta join
- ungrouped aggregate   -> the kernel correlated scalar subqueries share:
                           grouped agg per DISTINCT outer tuple, empty
                           groups take the aggregates over an empty
                           input, joined back
- ORDER BY + LIMIT k    -> partitioned row_number <= k + join

Refusals are loud (NotImplementedError) for shapes with no faithful
set-level rewrite. Federation: the body's OuterRefs force the node
local; the left subtree still claims.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import TESTDATA


@pytest.fixture(scope="module")
def lat(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    con = duckdb.connect()
    for t in ("customer", "orders"):
        eng.register_local_df(
            t, spark.read.parquet(f"{TESTDATA}/{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{TESTDATA}/{t}.parquet'")
    return eng, con


def both(lat, q):
    eng, con = lat
    return [tuple(r) for r in eng.sql(q).collect()], con.execute(q).fetchall()


def test_lateral_topk_per_key(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey, s.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) s ON TRUE
WHERE c.c_custkey < 8 ORDER BY c.c_custkey, s.o_totalprice DESC""")
    assert a == b and len(a) > 0


def test_lateral_topk_hidden_sort_column(lat):
    # ORDER BY references a column the body's projection drops
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey
FROM customer c LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) s ON TRUE
WHERE c.c_custkey < 8 ORDER BY c.c_custkey""")
    assert a == b and len(a) == 8


def test_lateral_aggregate_empty_group_values(lat):
    # customers with zero orders must get count=0 / count+1=1 / max=NULL
    # — the engines' exactly-one-row-per-outer-row contract, computed
    # by evaluating the aggregate exprs over an empty input
    a, b = both(lat, """
SELECT c.c_custkey, s.n, s.np1, s.m
FROM customer c LEFT JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) + 1 AS BIGINT) AS np1,
         MAX(o_totalprice) AS m
  FROM orders o WHERE o.o_custkey = c.c_custkey) s ON TRUE
ORDER BY c.c_custkey""")
    assert a == b
    counts = {r[1] for r in a}
    assert 0 in counts or len(a) > 0  # zero-order customers surface


def test_lateral_simple_filter_body(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey
FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o_totalprice > 100000) s ON TRUE
WHERE c.c_custkey < 20 ORDER BY c.c_custkey, s.o_orderkey""")
    assert a == b and len(a) > 0


def test_lateral_comma_form(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.n FROM customer c, LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_custkey = c.c_custkey) s
WHERE c.c_custkey < 5 ORDER BY c.c_custkey""")
    assert a == b and len(a) == 5


def test_lateral_refusals(lat):
    eng, _ = lat
    # LIMIT without ORDER BY: nondeterministic per-row subset
    with pytest.raises(NotImplementedError, match="nondeterministic"):
        eng.sql("""
SELECT c.c_custkey FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
  LIMIT 2) s ON TRUE""").collect()
    # non-equi correlation under LIMIT: refuses ABOVE the r10 BNL size
    # gate (below it the broadcast-nested-loop path now runs — see
    # test_lateral_pure_theta_*)
    old_gate = eng.compiler.theta_bnl_rows
    eng.compiler.theta_bnl_rows = 100
    try:
        with pytest.raises(NotImplementedError, match="equality"):
            eng.sql("""
SELECT c.c_custkey FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey < c.c_custkey
  ORDER BY o_orderkey LIMIT 1) s ON TRUE""").collect()
    finally:
        eng.compiler.theta_bnl_rows = old_gate


def test_lateral_parse_refusals():
    from datafusion_federation_spark.sqlfront import (
        Parser, SqlParseError)

    class H:
        def __init__(self, name):
            self.local_name = name
            self.provider = None
            self.schema = None
            self.fallback_path = None

    with pytest.raises(SqlParseError, match="not valid SQL"):
        Parser("SELECT 1 FROM a FULL JOIN LATERAL (SELECT 1 AS x) s "
               "ON TRUE", lambda n: H(n)).parse()


def test_lateral_left_side_still_federates(duckdb_engine):
    # left input claims its provider; the body stays local
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        LateralJoin, RemoteQueryNode, walk_plan)
    eng, _ex = duckdb_engine
    plan = eng.sql_plan("""
SELECT n.n_name, s.cnt FROM nation n JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem l
  WHERE l.l_suppkey = n.n_nationkey) s ON TRUE""").plan
    fed = federate(plan)
    lj = next(x for x in walk_plan(fed) if isinstance(x, LateralJoin))
    assert isinstance(lj.left, RemoteQueryNode) or any(
        isinstance(x, RemoteQueryNode) for x in walk_plan(lj.left))
    assert not any(isinstance(x, RemoteQueryNode)
                   for x in walk_plan(lj.right))
    rows = eng.execute(fed).collect()
    assert len(rows) == 25


def test_lateral_topk_plan_single_window_exchange(lat):
    # the rewrite must be a window + join — no per-row loop, no
    # cartesian; the window partitions by the correlation key
    eng, _ = lat
    df = eng.sql("""
SELECT c.c_custkey, s.o_orderkey
FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) s ON TRUE""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_lateral_order_without_limit_ignored(lat):
    # ORDER BY with no LIMIT in the body carries no semantics post-join
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey
FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC) s ON TRUE
WHERE c.c_custkey < 5 ORDER BY c.c_custkey, s.o_orderkey""")
    assert a == b and len(a) > 0


def test_lateral_uncorrelated_aggregate(lat):
    # legal (if pointless) SQL: a global 1-row aggregate cross-joined
    a, b = both(lat, """
SELECT c.c_custkey, s.total
FROM customer c JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders) s ON TRUE
WHERE c.c_custkey < 3 ORDER BY c.c_custkey""")
    assert a == b and len(a) == 3


def test_lateral_uncorrelated_same_provider_does_not_crash(duckdb_engine):
    # review r7 s3 finding #1: with NO OuterRef in the body, the whole
    # LateralJoin merged to one distinct provider and the claim died in
    # the unparser with an uncaught ValueError; the scan_plan guard now
    # forces the node local (children still claim individually)
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        LateralJoin, RemoteQueryNode, walk_plan)
    eng, _ex = duckdb_engine
    plan = eng.sql_plan("""
SELECT n.n_name, s.total FROM nation n CROSS JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders) s
ORDER BY n.n_name LIMIT 3""").plan
    fed = federate(plan)
    lj = next(x for x in walk_plan(fed) if isinstance(x, LateralJoin))
    assert not isinstance(lj, RemoteQueryNode)
    rows = eng.execute(fed).collect()
    assert len(rows) == 3 and rows[0].total > 0


def test_lateral_agg_remote_body_executes_remote_once(spark):
    # review r7 s3 finding #8: the remote body must execute at most
    # once at compile time — the empty-group row is derived from the
    # same compiled body, never a second compile
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    calls = {"n": 0}

    class CountingExec(DuckDBExecutor):
        def execute(self, spark_, sql, schema=None):
            calls["n"] += 1
            return super().execute(spark_, sql, schema)

    ex = CountingExec(name="count_lat", compute_context="test")
    ex.register_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "orders")
    eng.register_local_parquet("customer", f"{TESTDATA}/customer.parquet")
    df = eng.sql("""
SELECT c.c_custkey, s.n
FROM customer c LEFT JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_custkey = c.c_custkey) s ON TRUE""")
    n_compile = calls["n"]
    df.collect()
    assert calls["n"] == n_compile, "action re-fired the remote read"
    assert n_compile <= 1, f"remote executed {n_compile}x at compile"


def test_lateral_agg_build_and_explain_jobs_match_scalar(spark, monkeypatch):
    # the equality LATERAL aggregate compiles its body ONCE and joins
    # the empty-group row in the plan: a build (engine.sql, no action)
    # and a plain explain run no more Spark jobs than the scalar-
    # subquery spelling of the same query, and no driver collect()
    from pyspark.sql import DataFrame

    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    for t in ("customer", "orders"):
        eng.register_local_parquet(t, f"{TESTDATA}/{t}.parquet")
    body = ("SELECT CAST(COUNT(*) AS BIGINT) {} FROM orders o "
            "WHERE o.o_custkey = c.c_custkey")
    lateral = (f"SELECT c.c_custkey, s.n FROM customer c LEFT JOIN "
               f"LATERAL ({body.format('AS n')}) s ON TRUE")
    scalar = f"SELECT c.c_custkey, ({body.format('')}) AS n FROM customer c"
    sc = spark.sparkContext
    collects = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        collects.append(1)
        return real_collect(self)

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    for form, sql in (("lateral", lateral), ("scalar", scalar)):
        eng.sql(sql)                      # warm: first-touch file listing
    for step, fn in (("build", eng.sql),
                     ("explain",
                      lambda q: eng.explain(eng.sql_plan(q).plan))):
        n_lat = jobs(f"lat_{step}", lambda: fn(lateral))
        n_sc = jobs(f"sc_{step}", lambda: fn(scalar))
        assert n_lat <= n_sc, f"{step}: LATERAL {n_lat} jobs, scalar {n_sc}"
    assert not collects, "decorrelation collected at compile time"


def test_lateral_select_star_no_helper_columns(lat):
    # review r7 s3 finding #3: SELECT * must expose exactly left.* +
    # the body's declared outputs — no __lat_k keys, no widened
    # correlation/hidden-sort columns
    eng, con = lat
    q = """
SELECT * FROM customer c LEFT JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_custkey = c.c_custkey) s ON TRUE
WHERE c.c_custkey < 3"""
    df = eng.sql(q)
    assert [d[0] for d in con.execute(q).description] == df.columns
    q2 = """
SELECT * FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) s ON TRUE
WHERE c.c_custkey < 3"""
    df2 = eng.sql(q2)
    assert [d[0] for d in con.execute(q2).description] == df2.columns


def test_inner_lateral_agg_empty_group_divergence(spark):
    # Engines DISAGREE here, so the semantics choice is pinned (r7 s4
    # fuzzer finding): per-row evaluation of an ungrouped-aggregate
    # LATERAL body yields exactly ONE row even over empty input
    # (count -> 0, sum -> NULL), so INNER JOIN ... ON TRUE keeps every
    # outer row — Postgres semantics, and this engine's exactly-one-
    # row contract. DuckDB's decorrelation DROPS the empty-group outer
    # rows on INNER (it keeps them on LEFT, where both engines agree —
    # q93's oracle-backed shape).
    import duckdb
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("a", spark.createDataFrame(
        [(0,), (1,)], "k int"))
    eng.register_local_df("b", spark.createDataFrame(
        [(1, 10), (1, 20)], "k int, v int"))
    q = ("SELECT a.k, s.v FROM a JOIN LATERAL ("
         "SELECT CAST(SUM(b.v) AS BIGINT) AS v FROM b WHERE b.k = a.k"
         ") s ON TRUE ORDER BY a.k")
    got = [tuple(r) for r in eng.sql(q).collect()]
    assert got == [(0, None), (1, 30)]        # one row per outer row
    con = duckdb.connect()
    con.execute("CREATE TABLE a(k int); INSERT INTO a VALUES (0), (1)")
    con.execute("CREATE TABLE b(k int, v int); "
                "INSERT INTO b VALUES (1, 10), (1, 20)")
    assert con.execute(q).fetchall() == [(1, 30)]   # DuckDB drops k=0


# ---------------------------------------------------------------------------
# r9: grouped LATERAL bodies (graduated from the GROUP BY refusal) —
# one row per group per outer row; no empty-group fixup by design (a
# grouped aggregate over zero rows returns ZERO rows, so unmatched
# outer rows drop under comma/CROSS lateral and null-extend under LEFT
# JOIN LATERAL).
# ---------------------------------------------------------------------------

def test_lateral_grouped_agg_matches_duckdb(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.st, s.n FROM customer c, LATERAL (
  SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o WHERE o.o_custkey = c.c_custkey
  GROUP BY o_orderstatus) s
WHERE c.c_custkey < 40 ORDER BY c.c_custkey, s.st""")
    assert a == b and len(a) > 10


def test_lateral_grouped_agg_shuffled_select_order(lat):
    # (agg, key) select order -> the restoring-Project unwrap path
    a, b = both(lat, """
SELECT c.c_custkey, s.n, s.st FROM customer c, LATERAL (
  SELECT CAST(SUM(o_orderkey) AS BIGINT) AS n, o_orderstatus AS st
  FROM orders o WHERE o.o_custkey = c.c_custkey
  GROUP BY o_orderstatus) s
WHERE c.c_custkey < 40 ORDER BY c.c_custkey, s.st""")
    assert a == b and len(a) > 10


def test_lateral_grouped_left_join_null_extends(lat):
    # an impossible inner filter: every outer row must survive exactly
    # once with NULL group/agg columns
    a, b = both(lat, """
SELECT c.c_custkey, s.st, s.n FROM customer c LEFT JOIN LATERAL (
  SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 0
  GROUP BY o_orderstatus) s ON TRUE
WHERE c.c_custkey < 15 ORDER BY c.c_custkey""")
    assert a == b
    assert all(r[1] is None and r[2] is None for r in a) and len(a) > 5


def test_lateral_grouped_comma_drops_unmatched(lat):
    # comma lateral: outer rows with zero groups disappear entirely
    a, b = both(lat, """
SELECT c.c_custkey, s.n FROM customer c, LATERAL (
  SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 0
  GROUP BY o_orderstatus) s""")
    assert a == b == []


def test_lateral_grouped_group_key_is_correlation_key(lat):
    # GROUP BY the correlation column itself: the dedup guard must not
    # emit a duplicate grouping column
    a, b = both(lat, """
SELECT c.c_custkey, s.k2, s.n FROM customer c, LATERAL (
  SELECT o_custkey AS k2, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o WHERE o.o_custkey = c.c_custkey
  GROUP BY o_custkey) s
WHERE c.c_custkey < 40 ORDER BY c.c_custkey""")
    assert a == b and len(a) > 10


def test_lateral_topk_theta_correlation(lat):
    """r9: inequality conjunct alongside the equality key — top-1 order
    above the customer's OWN totalprice median proxy (theta filters the
    ranked set per outer row, so the window partitions by outer tuple)."""
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal * 30
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) s ON TRUE
WHERE c.c_custkey < 60 ORDER BY c.c_custkey""")
    assert a == b and len(a) > 3


def test_lateral_topk_theta_left_null_extends(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < -1
  ORDER BY o_orderkey LIMIT 2) s ON TRUE
WHERE c.c_custkey < 10 ORDER BY c.c_custkey""")
    assert a == b and all(r[1] is None for r in a) and len(a) > 3


def test_lateral_topk_theta_offset(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c, LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderkey > c.c_custkey * 2
  ORDER BY o_orderkey LIMIT 2 OFFSET 1) s
WHERE c.c_custkey < 40 ORDER BY c.c_custkey, s.o_orderkey""")
    assert a == b and len(a) > 3


def test_lateral_grouped_uncorrelated_cross(lat):
    # uncorrelated grouped body: same group rows repeated per outer row
    a, b = both(lat, """
SELECT c.c_custkey, s.st, s.n FROM customer c, LATERAL (
  SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderstatus) s
WHERE c.c_custkey < 4 ORDER BY c.c_custkey, s.st""")
    assert a == b and len(a) == 4 * 3


def test_lateral_topk_theta_on_condition_applied(lat):
    """r10 (ADVICE high): the theta top-k arm must apply a non-trivial
    ON predicate — previously it was silently dropped and every ranked
    row joined back."""
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderkey > c.c_custkey * 2
  ORDER BY o_orderkey LIMIT 2) s ON s.o_orderkey % 2 = 0
WHERE c.c_custkey < 40 ORDER BY c.c_custkey, s.o_orderkey""")
    assert a == b and len(a) > 0


def test_lateral_topk_theta_on_condition_left_null_extends(lat):
    """LEFT JOIN LATERAL with a failing ON predicate null-extends the
    outer row instead of dropping it."""
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderkey > c.c_custkey * 2
  ORDER BY o_orderkey LIMIT 1) s ON s.o_orderkey % 2 = 1
WHERE c.c_custkey < 20 ORDER BY c.c_custkey""")
    assert a == b and len(a) > 3


def test_lateral_pure_theta_agg_bnl(lat):
    """r10 (VERDICT r9 Next #4): LATERAL aggregate with ONLY theta
    correlation — size-gated broadcast nested loop (orders at this SF
    proves below the gate), exact vs DuckDB including the empty-set
    aggregate values."""
    a, b = both(lat, """
SELECT c.c_custkey, s.n FROM customer c LEFT JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_totalprice > c.c_acctbal * 40) s ON TRUE
WHERE c.c_custkey < 30 ORDER BY c.c_custkey""")
    assert a == b and len(a) > 5


def test_lateral_pure_theta_topk_bnl(lat):
    a, b = both(lat, """
SELECT c.c_custkey, s.o_orderkey FROM customer c JOIN LATERAL (
  SELECT o_orderkey FROM orders o WHERE o.o_orderkey > c.c_custkey * 9
  ORDER BY o_orderkey LIMIT 2) s ON TRUE
WHERE c.c_custkey < 25 ORDER BY c.c_custkey, s.o_orderkey""")
    assert a == b and len(a) > 5


def test_lateral_pure_theta_bnl_plan_is_broadcast(lat):
    """The graduated pure-theta path must plan a
    BroadcastNestedLoopJoin — never an unhinted cartesian — and the
    refusal must return above the gate."""
    eng, _ = lat
    sql = """
SELECT c.c_custkey, s.n FROM customer c JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_totalprice > c.c_acctbal * 40) s ON TRUE"""
    df = eng.sql(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    old_gate = eng.compiler.theta_bnl_rows
    eng.compiler.theta_bnl_rows = 10
    try:
        with pytest.raises(NotImplementedError, match="equality"):
            eng.sql(sql).collect()
    finally:
        eng.compiler.theta_bnl_rows = old_gate
