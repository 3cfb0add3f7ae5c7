"""Differential property tests: the same plan IR executed on the LOCAL
path (compiler -> Catalyst) and on the FEDERATED path (unparser -> DuckDB)
must produce identical results. Randomized over filters, aggregates,
sorts and limits on integer/string columns (floats excluded — cross-engine
float formatting is covered by the oracle queries instead).

This is the net that catches unparser/compiler semantic drift the golden
strings can't (SURVEY.md §7 hard-part #2).
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_federation_spark.expressions import (
    Alias, BinaryOp, InList, IsNull, Not, SortKey, agg, col, lit,
)
from datafusion_federation_spark.plans.nodes import (
    Aggregate, Filter, Limit, Plan, Project, Scan, Sort,
)
from tests.conftest import TESTDATA

KEY_COLS = ["n_nationkey", "n_regionkey"]
STR_COL = "n_name"
OPS = ["=", "<>", "<", "<=", ">", ">="]


@pytest.fixture(scope="module")
def engines(spark):
    """One engine with nation LOCAL, one with nation REMOTE (DuckDB)."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    local_eng = FederationEngine(spark)
    local_eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")

    ex = DuckDBExecutor(name="duck_prop", compute_context="prop")
    ex.register_parquet("nation", f"{TESTDATA}/nation.parquet")
    remote_eng = FederationEngine(spark)
    remote_eng.register_remote(SQLProvider(ex), "nation")
    return local_eng, remote_eng


predicates = st.one_of(
    st.tuples(st.sampled_from(KEY_COLS), st.sampled_from(OPS),
              st.integers(-2, 30)).map(
        lambda t: BinaryOp(t[1], col(t[0]), lit(t[2]))),
    st.lists(st.integers(0, 30), min_size=1, max_size=4).map(
        lambda vs: InList(col("n_nationkey"), [lit(v) for v in vs])),
    st.sampled_from(KEY_COLS).map(lambda c: IsNull(col(c))),
    st.tuples(st.sampled_from(KEY_COLS), st.integers(0, 25)).map(
        lambda t: Not(BinaryOp("=", col(t[0]), lit(t[1])))),
)


@contextmanager
def _no_view_fallback(*engs):
    """Fail instead of letting ``engine.sql`` hand the query to Spark's
    parser over whole-table views: these tests exist to diff the
    compiler and the unparser, and a parser gap that falls back would
    compare Spark SQL with itself."""
    def refuse(query, params=None):
        raise AssertionError(f"fell back to Spark SQL views: {query}")

    for e in engs:
        e._sql_via_views = refuse
    try:
        yield
    finally:
        for e in engs:
            del e._sql_via_views


def _rows(engine, plan: Plan):
    df = engine.execute(plan)
    return sorted(tuple(r) for r in df.collect())


def _build(scan_of, pred, shape, limit_n):
    p: Plan = Filter(scan_of, pred)
    if shape == "agg":
        return Aggregate(
            p, [col("n_regionkey")],
            [Alias(agg("count"), "n"),
             Alias(agg("sum", col("n_nationkey")), "s"),
             Alias(agg("min", col(STR_COL)), "mn"),
             Alias(agg("max", col("n_nationkey")), "mx")])
    if shape == "sort_limit":
        return Limit(
            Sort(Project(p, [col("n_nationkey"), col(STR_COL)]),
                 [SortKey(col("n_nationkey"))]),
            fetch=limit_n)
    return Project(p, [col("n_nationkey"), col("n_regionkey")])


@settings(max_examples=50, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pred=predicates,
       shape=st.sampled_from(["agg", "sort_limit", "project"]),
       limit_n=st.integers(0, 10))
def test_local_and_federated_agree(engines, pred, shape, limit_n):
    local_eng, remote_eng = engines
    lp = _build(Scan(local_eng.catalog.table("nation")), pred, shape,
                limit_n)
    rp = _build(Scan(remote_eng.catalog.table("nation")), pred, shape,
                limit_n)
    assert _rows(local_eng, lp) == _rows(remote_eng, rp)


# ---------------------------------------------------------------------------
# SQL-string differential: random SQL through engine.sql() (parse ->
# federate -> DuckDB) vs the same string run directly on DuckDB
# ---------------------------------------------------------------------------

_sql_preds = st.one_of(
    st.tuples(st.sampled_from(KEY_COLS), st.sampled_from(OPS),
              st.integers(-2, 30)).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.lists(st.integers(0, 30), min_size=1, max_size=4).map(
        lambda vs: f"n_nationkey IN ({', '.join(map(str, vs))})"),
    st.tuples(st.integers(0, 10), st.integers(10, 30)).map(
        lambda t: f"n_regionkey BETWEEN {t[0]} AND {t[1]}"),
    st.sampled_from(["n_name LIKE 'A%'", "n_name LIKE '%IA'",
                     "NOT n_regionkey = 2"]),
)


@st.composite
def _sql_queries(draw):
    pred = draw(_sql_preds)
    shape = draw(st.sampled_from(
        ["agg", "proj", "sort", "having", "union", "cte",
         "star_exclude", "named_window", "qualify", "using",
         "corr_exists", "corr_scalar", "corr_in", "deep_join",
         "scalar_select", "notin_null", "range_frame", "outer_join"]))
    if shape == "outer_join":
        # outer joins with the filter split between ON (null-extends
        # the preserved side) and WHERE (post-join, kills the extension)
        # — THE classic semantics divergence; both placements drawn
        how = draw(st.sampled_from(["LEFT", "RIGHT", "FULL"]))
        k = draw(st.integers(0, 4))
        extra_in_on = draw(st.booleans())
        on = "a.n_nationkey = b.n_nationkey"
        where = f"{pred}"
        if extra_in_on:
            on += f" AND b.n_regionkey = {k}"
        else:
            where += (f" AND (b.n_regionkey = {k} "
                      "OR b.n_regionkey IS NULL)")
        return ("SELECT a.n_nationkey, b.n_regionkey AS brk "
                f"FROM (SELECT * FROM nation WHERE {pred}) a "
                f"{how} JOIN nation b ON {on} "
                f"WHERE {where.replace(pred, '1 = 1', 1)}"
                if how != "RIGHT" else
                "SELECT a.n_nationkey, b.n_regionkey AS brk "
                f"FROM nation a RIGHT JOIN "
                f"(SELECT * FROM nation WHERE {pred}) b "
                f"ON {on}")
    if shape == "range_frame":
        # event-time-style RANGE frame over a numeric order key (the
        # d49 shape): value-distance bounds, not row counts — gaps in
        # the order column must NOT extend the window
        k = draw(st.integers(0, 6))
        return ("SELECT n_nationkey, "
                "SUM(n_nationkey) OVER (PARTITION BY n_regionkey "
                "ORDER BY n_nationkey "
                f"RANGE BETWEEN {k} PRECEDING AND CURRENT ROW) AS s "
                f"FROM nation WHERE {pred}")
    if shape == "notin_null":
        # three-valued NOT IN with REAL nulls (nation has none, so they
        # are derived): any NULL in the subquery empties the result;
        # a NULL probe never matches. Exercises the r5 equi-keyed
        # null-aware anti-join rewrite on both its branches.
        j = draw(st.integers(0, 30))
        k = draw(st.integers(-1, 30))
        m = draw(st.integers(0, 30))
        probe = (f"CASE WHEN a.n_nationkey > {j} THEN NULL "
                 "ELSE a.n_regionkey END"
                 if draw(st.booleans()) else "a.n_regionkey")
        return (f"SELECT a.n_nationkey FROM nation a WHERE {pred} "
                f"AND {probe} NOT IN "
                f"(SELECT CASE WHEN b.n_nationkey > {k} THEN NULL "
                "ELSE b.n_regionkey END FROM nation b "
                f"WHERE b.n_nationkey < {m})")
    if shape == "corr_in":
        # correlated (NOT) IN: null-aware 3VL path locally; keys here are
        # non-null so the equi-keyed fast path (r5) must engage and agree
        neg = "NOT " if draw(st.booleans()) else ""
        k = draw(st.integers(0, 25))
        # sometimes UNQUALIFIED: the probe then collides with the
        # subquery's column name (r5 AMBIGUOUS_REFERENCE regression)
        lhs = "a.n_nationkey" if draw(st.booleans()) else "n_nationkey"
        return (f"SELECT a.n_nationkey FROM nation a WHERE {pred} "
                f"AND {lhs} {neg}IN (SELECT b.n_nationkey "
                "FROM nation b WHERE b.n_regionkey = a.n_regionkey "
                f"AND b.n_nationkey <= {k})")
    if shape == "deep_join":
        # h-suite-depth join chain: 4 relations, mixed equi keys, agg on
        # top — exercises join reordering + multi-alias scope resolution
        k = draw(st.integers(0, 25))
        return ("SELECT a.n_regionkey, COUNT(*) AS n, "
                "SUM(d.n_nationkey) AS s "
                f"FROM (SELECT * FROM nation WHERE {pred}) a "
                "JOIN nation b ON a.n_regionkey = b.n_regionkey "
                "JOIN nation c ON b.n_nationkey = c.n_nationkey "
                "JOIN nation d ON c.n_regionkey = d.n_regionkey "
                f"WHERE d.n_nationkey <= {k} "
                "GROUP BY a.n_regionkey")
    if shape == "scalar_select":
        # scalar subquery in the SELECT list (correlated + uncorrelated)
        if draw(st.booleans()):
            sub = ("(SELECT MAX(b.n_nationkey) FROM nation b "
                   "WHERE b.n_regionkey = a.n_regionkey)")
        else:
            sub = "(SELECT MIN(b.n_nationkey) FROM nation b)"
        return (f"SELECT a.n_nationkey, {sub} AS s "
                f"FROM nation a WHERE {pred}")
    if shape == "corr_exists":
        # correlated (NOT) EXISTS: decorrelates to semi/anti locally,
        # renders natively when the provider claims the whole query
        neg = "NOT " if draw(st.booleans()) else ""
        return (f"SELECT a.n_nationkey FROM nation a WHERE {pred} "
                f"AND {neg}EXISTS (SELECT 1 FROM nation b "
                "WHERE b.n_regionkey = a.n_regionkey "
                "AND b.n_nationkey < a.n_nationkey)")
    if shape == "corr_scalar":
        # correlated scalar aggregate (round-4 decorrelation / native
        # render): per-region extremum compared against each row
        fn = draw(st.sampled_from(["MAX", "MIN"]))
        return ("SELECT a.n_nationkey FROM nation a "
                f"WHERE {pred} AND a.n_nationkey = "
                f"(SELECT {fn}(b.n_nationkey) FROM nation b "
                "WHERE b.n_regionkey = a.n_regionkey)")
    if shape == "agg":
        return ("SELECT n_regionkey, COUNT(*) AS n, "
                "SUM(n_nationkey) AS s, MAX(n_name) AS mx "
                f"FROM nation WHERE {pred} GROUP BY n_regionkey")
    if shape == "sort":
        n = draw(st.integers(0, 10))
        return (f"SELECT n_nationkey, n_name FROM nation WHERE {pred} "
                f"ORDER BY n_nationkey LIMIT {n}")
    if shape == "having":
        k = draw(st.integers(0, 5))
        return ("SELECT n_regionkey, COUNT(*) AS n FROM nation "
                f"WHERE {pred} GROUP BY n_regionkey "
                f"HAVING COUNT(*) > {k}")
    if shape == "union":
        pred2 = draw(_sql_preds)
        return (f"SELECT n_nationkey FROM nation WHERE {pred} "
                f"UNION ALL SELECT n_nationkey FROM nation WHERE {pred2}")
    if shape == "star_exclude":
        # EXCLUDE spelling runs verbatim on BOTH engines (DuckDB has no
        # EXCEPT form; our parser accepts either)
        cols = draw(st.sampled_from(["n_name", "n_regionkey"]))
        return f"SELECT * EXCLUDE ({cols}) FROM nation WHERE {pred}"
    if shape == "named_window":
        return ("SELECT n_nationkey, SUM(n_nationkey) OVER w AS s, "
                "COUNT(*) OVER w AS c "
                f"FROM nation WHERE {pred} "
                "WINDOW w AS (PARTITION BY n_regionkey "
                "ORDER BY n_nationkey "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    if shape == "qualify":
        k = draw(st.integers(1, 3))
        return ("SELECT n_nationkey, n_regionkey, "
                "ROW_NUMBER() OVER (PARTITION BY n_regionkey "
                "ORDER BY n_nationkey) AS rk "
                f"FROM nation WHERE {pred} QUALIFY rk <= {k}")
    if shape == "using":
        return ("SELECT a.n_nationkey, b.n_nationkey AS other "
                f"FROM (SELECT * FROM nation WHERE {pred}) a "
                "JOIN nation b USING (n_regionkey) "
                "WHERE a.n_nationkey < b.n_nationkey")
    if shape == "cte":
        return (f"WITH f AS (SELECT * FROM nation WHERE {pred}) "
                "SELECT n_regionkey, COUNT(*) AS n FROM f "
                "GROUP BY n_regionkey")
    return (f"SELECT n_nationkey, n_regionkey FROM nation WHERE {pred}")


@settings(max_examples=90, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_sql_queries())
def test_sql_front_door_matches_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    got = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    assert got == want
    if "(SELECT" in sql.replace("( SELECT", "(SELECT"):
        # subquery shapes ALSO run on the LOCAL engine: with nation
        # remote the whole query federates and DuckDB executes its own
        # NOT IN / EXISTS — only the local path exercises the compiler's
        # decorrelation and the r5 equi-keyed null-aware NOT IN rewrite
        got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
        assert got_local == want


# ---------------------------------------------------------------------------
# two-table differential: correlated shapes over a real FK (customer ->
# orders), LOCAL and FEDERATED both compared to DuckDB
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def engines2(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    local_eng = FederationEngine(spark)
    for t in ("orders", "customer"):
        local_eng.register_local_parquet(t, f"{TESTDATA}/{t}.parquet")
    ex = DuckDBExecutor(name="duck_prop2", compute_context="prop2")
    for t in ("orders", "customer"):
        ex.register_parquet(t, f"{TESTDATA}/{t}.parquet")
    remote_eng = FederationEngine(spark)
    remote_eng.register_remote(SQLProvider(ex), "orders")
    remote_eng.register_remote(SQLProvider(ex), "customer")
    return local_eng, remote_eng


@st.composite
def _fk_queries(draw):
    price = draw(st.sampled_from([50000, 150000, 300000, 450000]))
    shape = draw(st.sampled_from(
        ["exists", "not_exists", "in", "not_in", "scalar_cmp",
         "scalar_sel", "join_agg"]))
    if shape in ("exists", "not_exists"):
        neg = "NOT " if shape == "not_exists" else ""
        return (f"SELECT c.c_custkey FROM customer c WHERE {neg}EXISTS "
                "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
                f"AND o.o_totalprice > {price})")
    if shape in ("in", "not_in"):
        neg = "NOT " if shape == "not_in" else ""
        return (f"SELECT c.c_custkey FROM customer c "
                f"WHERE c.c_custkey {neg}IN "
                "(SELECT o.o_custkey FROM orders o "
                "WHERE o.o_custkey = c.c_custkey "
                f"AND o.o_totalprice > {price})")
    if shape == "scalar_cmp":
        fn = draw(st.sampled_from(["MAX", "MIN", "COUNT"]))
        k = draw(st.integers(0, 4))
        return ("SELECT c.c_custkey FROM customer c WHERE "
                f"(SELECT {fn}(o.o_orderkey) FROM orders o "
                "WHERE o.o_custkey = c.c_custkey "
                f"AND o.o_totalprice > {price}) > {k}")
    if shape == "scalar_sel":
        return ("SELECT c.c_custkey, "
                "(SELECT COUNT(*) FROM orders o "
                f"WHERE o.o_custkey = c.c_custkey "
                f"AND o.o_totalprice > {price}) AS n "
                "FROM customer c")
    return ("SELECT c.c_mktsegment, COUNT(*) AS n "
            "FROM customer c JOIN orders o "
            "ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_totalprice > {price} GROUP BY c.c_mktsegment")


@settings(max_examples=30, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_fk_queries())
def test_fk_shapes_local_and_federated_match_duckdb(engines2, sql):
    import duckdb
    local_eng, remote_eng = engines2
    conn = duckdb.connect()
    for t in ("orders", "customer"):
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{t}.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    got_remote = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_remote == want
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want


# ---------------------------------------------------------------------------
# join-order differential: orders and customer remote on one DuckDB,
# lineitem local, joined in every connected order, with table aliases or
# bare table names — a remote pair adjacent in the order collapses into
# one remote query whose qualifiers the local joins above must still see
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def engines_mixed(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    ex = DuckDBExecutor(name="duck_mixed", compute_context="mixed")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    for t in ("orders", "customer"):
        ex.register_parquet(t, f"{TESTDATA}/{t}.parquet")
        eng.register_remote(prov, t)
    eng.register_local_parquet("lineitem", f"{TESTDATA}/lineitem.parquet")
    return eng


#: join edges of the three tables: lineitem-orders and orders-customer
_EDGES = {frozenset("lo"): "{l}.l_orderkey = {o}.o_orderkey",
          frozenset("oc"): "{o}.o_custkey = {c}.c_custkey"}
_TABLES = {"o": "orders", "c": "customer", "l": "lineitem"}


@st.composite
def _join_order_queries(draw):
    order = draw(st.sampled_from(["ocl", "olc", "col", "loc"]))
    aliased = draw(st.booleans())
    q = {k: (k if aliased else t) for k, t in _TABLES.items()}

    def ref(k):
        return f"{_TABLES[k]} {k}" if aliased else _TABLES[k]

    sql = f"FROM {ref(order[0])}"
    for i in (1, 2):
        k = order[i]
        prev = next(p for p in order[:i] if frozenset(p + k) in _EDGES)
        sql += (f" JOIN {ref(k)} ON "
                + _EDGES[frozenset(prev + k)].format(**q))
    price = draw(st.sampled_from([1000, 100000, 250000]))
    qty = draw(st.integers(5, 50))
    sql += (f" WHERE {q['o']}.o_totalprice > {price} "
            f"AND {q['l']}.l_quantity <= {qty}")
    shape = draw(st.sampled_from(["count", "group", "rows"]))
    if shape == "count":
        return "SELECT COUNT(*) AS n " + sql
    if shape == "group":
        return (f"SELECT {q['c']}.c_mktsegment, COUNT(*) AS n, "
                f"SUM({q['l']}.l_quantity) AS s {sql} "
                f"GROUP BY {q['c']}.c_mktsegment")
    return (f"SELECT {q['c']}.c_name, {q['o']}.o_orderkey, "
            f"{q['l']}.l_linenumber {sql} AND {q['c']}.c_custkey < 30")


@settings(max_examples=30, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_join_order_queries())
def test_join_orders_over_local_and_remote_match_duckdb(engines_mixed, sql):
    import duckdb
    conn = duckdb.connect()
    for t in _TABLES.values():
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{t}.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    got = sorted(tuple(r) for r in engines_mixed.sql(sql).collect())
    assert got == want


# ---------------------------------------------------------------------------
# ASOF JOIN differential: key/bound/direction/how combinations against
# DuckDB's native ASOF, LOCAL and FEDERATED paths (VERDICT r5 item 6)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def engines_asof(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    local_eng = FederationEngine(spark)
    local_eng.register_local_parquet("events", f"{TESTDATA}/events.parquet")
    ex = DuckDBExecutor(name="duck_asof_prop", compute_context="asofp")
    ex.register_parquet("events", f"{TESTDATA}/events.parquet")
    remote_eng = FederationEngine(spark)
    remote_eng.register_remote(SQLProvider(ex), "events")
    return local_eng, remote_eng


@st.composite
def _asof_queries(draw):
    lt = draw(st.sampled_from(["purchase", "error", "signup"]))
    rt = draw(st.sampled_from(["click", "view"]))
    how = draw(st.sampled_from(["", "LEFT "]))
    # direction via the bound op AND via which side is written first —
    # the compiler must normalize b.ts >= a.ts to a forward join etc.
    op, flipped = draw(st.sampled_from(
        [(">=", False), ("<=", False), (">=", True), ("<=", True)]))
    bound = (f"b.ts {op} a.ts" if flipped
             else f"a.ts {op} b.ts")
    keys = draw(st.sampled_from(
        [["user_id"], ["user_id", "d"]]))
    # an extra derived key exercises multi-key equality
    kexpr = ", CAST(ts AS DATE) AS d" if "d" in keys else ""
    keq = " AND ".join(f"a.{k} = b.{k}" for k in keys)
    lfilter = draw(st.sampled_from(
        ["", " AND user_id % 3 = 0", " AND event_id % 2 = 1"]))
    # right side deduped per (keys, ts): MAX keeps "the" row unique
    return (
        f"SELECT a.user_id, a.event_id, click_id "
        f"FROM (SELECT user_id, ts, event_id{kexpr} FROM events "
        f"      WHERE event_type = '{lt}'{lfilter}) a "
        f"ASOF {how}JOIN "
        f"(SELECT user_id, ts, MAX(event_id) AS click_id{kexpr} "
        f" FROM events WHERE event_type = '{rt}' "
        f" GROUP BY user_id, ts{', CAST(ts AS DATE)' if 'd' in keys else ''}) b "
        f"ON {keq} AND {bound}")


@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_asof_queries())
def test_asof_shapes_local_and_federated_match_duckdb(engines_asof, sql):
    import duckdb
    local_eng, remote_eng = engines_asof
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW events AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/events.parquet')")
    want = sorted(
        (int(a), int(b), None if c is None else int(c))
        for a, b, c in conn.execute(sql).fetchall())
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


def test_value_window_functions_both_paths(engines):
    """FIRST/LAST/NTH_VALUE + LAG(default) through the front door on
    the local AND federated paths vs DuckDB — the §2C window-function
    variants d50's oracle row doesn't carry (r6 probe, pinned)."""
    import duckdb
    local_eng, remote_eng = engines
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    full = ("ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND UNBOUNDED FOLLOWING")
    for sql in [
        "SELECT n_nationkey, FIRST_VALUE(n_name) OVER "
        "(PARTITION BY n_regionkey ORDER BY n_nationkey) AS v "
        "FROM nation",
        f"SELECT n_nationkey, LAST_VALUE(n_name) OVER "
        f"(PARTITION BY n_regionkey ORDER BY n_nationkey {full}) AS v "
        "FROM nation",
        f"SELECT n_nationkey, NTH_VALUE(n_name, 2) OVER "
        f"(PARTITION BY n_regionkey ORDER BY n_nationkey {full}) AS v "
        "FROM nation",
        "SELECT n_nationkey, LAG(n_name, 2, 'none') OVER "
        "(PARTITION BY n_regionkey ORDER BY n_nationkey) AS v "
        "FROM nation",
    ]:
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert sorted(tuple(r) for r in
                      local_eng.sql(sql).collect()) == want, sql
        assert sorted(tuple(r) for r in
                      remote_eng.sql(sql).collect()) == want, sql
    con.close()


# ---------------------------------------------------------------------------
# set-operation chains (VERDICT r6 Next #5): UNION/INTERSECT/EXCEPT
# (+ALL) chains with standard precedence, nested parens, and
# positionally-mismatched column orders — the r6 DISTINCT-ON refusal
# commit (INTERSECT missed by a UNION/EXCEPT guard) showed set-op
# edges are where parse bugs hide. LOCAL (compiler) and FEDERATED
# (unparser -> DuckDB, which must re-render the chain with the SAME
# grouping) both diff against DuckDB running the string directly.
# ---------------------------------------------------------------------------

_SETOPS = ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
           "EXCEPT", "EXCEPT ALL"]


@st.composite
def _setop_chains(draw):
    def leaf():
        pred = draw(_sql_preds)
        # positional semantics: branches may list the two int columns
        # in DIFFERENT orders (column names come from the first branch;
        # values pair up by position on both engines)
        cols = draw(st.sampled_from(
            ["n_nationkey, n_regionkey",
             "n_regionkey, n_nationkey",
             "n_nationkey, n_regionkey + 1"]))
        return f"SELECT {cols} FROM nation WHERE {pred}"

    shape = draw(st.sampled_from(
        ["flat3", "flat4", "grouped", "nested_left", "nested_right"]))
    ops = [draw(st.sampled_from(_SETOPS)) for _ in range(3)]
    a, b, c, d = leaf(), leaf(), leaf(), leaf()
    if shape == "flat3":
        # no parens: INTERSECT must bind tighter than UNION/EXCEPT
        return f"{a} {ops[0]} {b} {ops[1]} {c}"
    if shape == "flat4":
        return f"{a} {ops[0]} {b} {ops[1]} {c} {ops[2]} {d}"
    if shape == "grouped":
        return f"({a} {ops[0]} {b}) {ops[1]} ({c} {ops[2]} {d})"
    if shape == "nested_left":
        return f"(({a} {ops[0]} {b}) {ops[1]} {c}) {ops[2]} {d}"
    return f"{a} {ops[0]} ({b} {ops[1]} ({c} {ops[2]} {d}))"


@settings(max_examples=70, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_setop_chains())
def test_setop_chains_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    with _no_view_fallback(local_eng, remote_eng):
        got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
        assert got_local == want, f"LOCAL diverged on: {sql}"
        got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# window-function shapes (r7): randomized function x partition x order
# x frame combinations through the front door, LOCAL and FEDERATED,
# vs DuckDB direct. Every ORDER BY ends in the unique key so ranking
# and frame contents are engine-deterministic (ties would otherwise
# make ROW_NUMBER and sliding sums engine-arbitrary, a false FAIL).
# ---------------------------------------------------------------------------

_WIN_FUNCS = [
    "ROW_NUMBER()", "RANK()", "DENSE_RANK()",
    "COUNT(*)", "SUM(n_regionkey)", "MIN(n_nationkey)",
    "MAX(n_regionkey)", "AVG(n_regionkey)",
]
_WIN_PARTS = ["", "PARTITION BY n_regionkey",
              "PARTITION BY n_regionkey % 2"]
_WIN_ORDERS = ["ORDER BY n_nationkey", "ORDER BY n_nationkey DESC",
               "ORDER BY n_name, n_nationkey"]
_WIN_FRAMES = [
    "", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    # value-based frames require a SINGLE NUMERIC order key — the
    # strategy forces ORDER BY n_nationkey when it draws one
    "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN 1 PRECEDING AND 3 FOLLOWING",
]


@st.composite
def _window_queries(draw):
    fn = draw(st.sampled_from(_WIN_FUNCS))
    part = draw(st.sampled_from(_WIN_PARTS))
    order = draw(st.sampled_from(_WIN_ORDERS))
    # ranking functions take no frame; aggregates may
    if fn in ("ROW_NUMBER()", "RANK()", "DENSE_RANK()"):
        frame = ""
    else:
        frame = draw(st.sampled_from(_WIN_FRAMES))
    if frame.startswith("RANGE BETWEEN"):
        order = "ORDER BY n_nationkey"   # value frames: 1 numeric key
    spec = " ".join(s for s in (part, order, frame) if s)
    base = (f"SELECT n_nationkey, {fn} OVER ({spec}) AS w "
            f"FROM nation")
    shape = draw(st.sampled_from(["plain", "filtered_outer", "two_fns"]))
    if shape == "filtered_outer":
        # window in a derived table with an outer filter on its result
        return (f"SELECT n_nationkey, w FROM ({base}) t "
                f"WHERE w <= 3 OR w >= 20")
    if shape == "two_fns":
        fn2 = draw(st.sampled_from(_WIN_FUNCS))
        frame2 = "" if fn2 in ("ROW_NUMBER()", "RANK()",
                               "DENSE_RANK()") \
            else draw(st.sampled_from(_WIN_FRAMES))
        spec2 = " ".join(s for s in
                         (draw(st.sampled_from(_WIN_PARTS)),
                          "ORDER BY n_nationkey", frame2) if s)
        return (f"SELECT n_nationkey, {fn} OVER ({spec}) AS w, "
                f"{fn2} OVER ({spec2}) AS w2 FROM nation")
    return base


@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_window_queries())
def test_window_shapes_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# three-valued-logic shapes (r7): NULL-bearing scalar expressions via
# NULLIF (the source table has no NULLs — NULLIF manufactures them
# in-query), exercising IS [NOT] DISTINCT FROM, IS [NOT]
# TRUE/FALSE/UNKNOWN, IN lists containing NULL, NULL-propagating
# BETWEEN, and NOT over UNKNOWN — in WHERE (UNKNOWN filters like
# FALSE), in CASE (UNKNOWN takes ELSE), and as projected booleans
# (UNKNOWN must surface as NULL). LOCAL and FEDERATED vs DuckDB.
# ---------------------------------------------------------------------------

# NULL for region k (5 rows at sf0.001), else the region key
_NV = "NULLIF(n_regionkey, {k})"


@st.composite
def _threevl_queries(draw):
    k = draw(st.integers(0, 4))
    nv = _NV.format(k=k)
    m = draw(st.integers(0, 4))
    atom = draw(st.sampled_from([
        f"{nv} > {m}",
        f"{nv} = {m}",
        f"{nv} IS DISTINCT FROM {m}",
        f"{nv} IS NOT DISTINCT FROM {m}",
        f"{nv} IS DISTINCT FROM NULLIF(n_regionkey, {m})",
        f"n_nationkey IN (1, NULL, {m + 3})",
        f"{nv} BETWEEN {m} AND {m + 2}",
        f"({nv} > {m}) IS UNKNOWN",
        f"({nv} > {m}) IS NOT TRUE",
        f"({nv} = {m}) IS FALSE",
    ]))
    comb = draw(st.sampled_from(["plain", "not", "or", "and_known"]))
    if comb == "not":
        pred = f"NOT ({atom})"
    elif comb == "or":
        pred = f"({atom}) OR n_nationkey < {draw(st.integers(0, 6))}"
    elif comb == "and_known":
        pred = f"({atom}) AND n_nationkey >= {draw(st.integers(0, 6))}"
    else:
        pred = atom
    shape = draw(st.sampled_from(["where", "case", "project"]))
    if shape == "where":
        return f"SELECT n_nationkey FROM nation WHERE {pred}"
    if shape == "case":
        return (f"SELECT n_nationkey, CASE WHEN {pred} THEN 'y' "
                f"ELSE 'n' END AS c FROM nation")
    # projected boolean: UNKNOWN must come back as SQL NULL
    return f"SELECT n_nationkey, {pred} AS b FROM nation"


@settings(max_examples=70, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_threevl_queries())
def test_threevl_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    with _no_view_fallback(local_eng, remote_eng):
        got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
        assert got_local == want, f"LOCAL diverged on: {sql}"
        got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# frame-exclusion shapes (r7 s4): EXCLUDE CURRENT ROW/GROUP/TIES over
# the statically-valid frame classes, LOCAL (the _exclude_spark
# aggregate-arithmetic lowering) and FEDERATED (DuckDB renders the
# clause natively) vs DuckDB direct. ORDER BY n_regionkey draws give
# real peer groups (5 ties per key at sf0.001); n_nationkey draws
# degenerate GROUP to CURRENT ROW — both must agree.
# ---------------------------------------------------------------------------

_EXCL_FUNCS = ["CAST(COUNT(*) OVER ({spec}) AS BIGINT)",
               "CAST(COUNT(n_regionkey) OVER ({spec}) AS BIGINT)",
               "SUM(n_regionkey) OVER ({spec})",
               "SUM(n_nationkey) OVER ({spec})",
               "CAST(AVG(n_regionkey) OVER ({spec}) AS DOUBLE)"]
_EXCL_PARTS = ["", "PARTITION BY n_regionkey % 2"]
# frames valid for EXCLUDE CURRENT ROW (need only contain offset 0 —
# the last one does NOT and must be a provable no-op on both paths)
_EXCL_ROWS_FRAMES = [
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING",
]
# frames where the peer group is provably in-frame (EXCLUDE GROUP/TIES)
_EXCL_PEER_FRAMES = [
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN CURRENT ROW AND CURRENT ROW",
    "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
]


@st.composite
def _exclude_queries(draw):
    fn = draw(st.sampled_from(_EXCL_FUNCS))
    part = draw(st.sampled_from(_EXCL_PARTS))
    mode = draw(st.sampled_from(["CURRENT ROW", "GROUP", "TIES",
                                 "NO OTHERS"]))
    if mode in ("GROUP", "TIES"):
        frame = draw(st.sampled_from(_EXCL_PEER_FRAMES))
        order = draw(st.sampled_from(
            ["ORDER BY n_regionkey", "ORDER BY n_nationkey"]))
    else:
        frame = draw(st.sampled_from(_EXCL_ROWS_FRAMES))
        # ROWS frames need a total order or frame contents are
        # engine-arbitrary
        order = "ORDER BY n_nationkey"
    spec = " ".join(s for s in (part, order,
                                f"{frame} EXCLUDE {mode}") if s)
    return (f"SELECT n_nationkey, {fn.format(spec=spec)} AS w "
            f"FROM nation")


@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_exclude_queries())
def test_frame_exclude_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# LATERAL shapes (r7 s4): the decorrelating compile's three arms —
# top-k-per-key (row_number rewrite), ungrouped aggregate (grouped agg
# + empty-group fixup + null-safe join-back), and plain correlated
# filter — LOCAL and FEDERATED-LEFT vs DuckDB's native per-row LATERAL.
# ---------------------------------------------------------------------------

@st.composite
def _lateral_queries(draw):
    body = draw(st.sampled_from(["topk", "agg", "plain"]))
    # the top-k and aggregate arms decorrelate through a window/groupBy
    # PARTITIONED on the correlation key, so they require (and loudly
    # refuse without) equality correlation; theta correlation is the
    # plain arm's job
    corr_op = "=" if body in ("topk", "agg") \
        else draw(st.sampled_from(["=", "<", ">="]))
    corr = f"b.n_regionkey {corr_op} a.n_regionkey"
    if body == "topk":
        k = draw(st.integers(1, 3))
        direction = draw(st.sampled_from(["ASC", "DESC"]))
        # total order inside the body: n_nationkey is unique
        return (
            "SELECT a.n_nationkey, s.bk "
            "FROM nation a JOIN LATERAL ("
            f"  SELECT b.n_nationkey AS bk FROM nation b WHERE {corr} "
            f"  ORDER BY b.n_name {direction}, b.n_nationkey LIMIT {k}"
            ") s ON TRUE ORDER BY a.n_nationkey, s.bk")
    if body == "agg":
        fn = draw(st.sampled_from(
            ["CAST(COUNT(*) AS BIGINT)", "CAST(SUM(b.n_nationkey) AS BIGINT)",
             "MAX(b.n_name)"]))
        how = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
        # empty groups: the engines themselves disagree on INNER JOIN
        # LATERAL over an empty-input aggregate — per-row evaluation
        # (Postgres, and this engine) yields ONE row (count 0 / sum
        # NULL) so the inner join keeps the outer row; DuckDB's
        # decorrelation drops it. Pinned explicitly in
        # test_lateral.test_inner_lateral_agg_empty_group_divergence;
        # the fuzzer only draws empty-able groups on LEFT, where the
        # engines agree.
        cut = draw(st.integers(0, 3)) if how == "LEFT JOIN" else 0
        return (
            "SELECT a.n_nationkey, s.v "
            f"FROM nation a {how} LATERAL ("
            f"  SELECT {fn} AS v FROM nation b "
            f"  WHERE {corr} AND b.n_regionkey >= {cut}"
            ") s ON TRUE ORDER BY a.n_nationkey")
    cut = draw(st.integers(0, 4))
    return (
        "SELECT a.n_nationkey, s.bk "
        "FROM nation a JOIN LATERAL ("
        f"  SELECT b.n_nationkey AS bk FROM nation b WHERE {corr} "
        f"  AND b.n_nationkey < {cut * 7}"
        ") s ON TRUE ORDER BY a.n_nationkey, s.bk")


@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_lateral_queries())
def test_lateral_shapes_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    # the lateral body forces itself local, but the remote-engine run
    # still exercises claim vetting + the left-input federation boundary
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL shapes (r7 s4): drawn select lists mixing
# key expressions and aggregates in random positions — the desugar rule
# (non-aggregate items become keys IN SELECT ORDER; every output column
# sorts) must agree with DuckDB on the identical string, LOCAL and
# FEDERATED.
# ---------------------------------------------------------------------------

_GBA_KEYS = ["n_regionkey", "n_regionkey % 2", "SUBSTR(n_name, 1, 1)",
             "n_nationkey < 10"]
_GBA_AGGS = ["CAST(COUNT(*) AS BIGINT)", "CAST(SUM(n_nationkey) AS BIGINT)",
             "MIN(n_name)", "CAST(AVG(n_regionkey) AS DOUBLE)",
             "CAST(COUNT(*) FILTER (WHERE n_nationkey > 5) AS BIGINT)"]


@st.composite
def _group_by_all_queries(draw):
    keys = draw(st.lists(st.sampled_from(_GBA_KEYS), min_size=0,
                         max_size=2, unique=True))
    aggs = draw(st.lists(st.sampled_from(_GBA_AGGS), min_size=1,
                         max_size=2, unique=True))
    items = [(k, f"k{i}") for i, k in enumerate(keys)] \
        + [(a, f"a{i}") for i, a in enumerate(aggs)]
    # keys and aggregates INTERLEAVED: the desugar must pick keys by
    # select position, not by a keys-first assumption
    order = draw(st.permutations(items))
    sel = ", ".join(f"{e} AS {n}" for e, n in order)
    head = draw(st.sampled_from(["", "DESC", "ASC NULLS FIRST"]))
    return (f"SELECT {sel} FROM nation GROUP BY ALL "
            f"ORDER BY ALL {head}").strip()


@settings(max_examples=50, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_group_by_all_queries())
def test_group_by_all_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# PIVOT / UNPIVOT shapes (r7 s4): drawn measure subsets, INCLUDE NULLS,
# aggregates and IN lists — identical SQL vs DuckDB, LOCAL and
# FEDERATED (the node stays local; the input claims).
# ---------------------------------------------------------------------------

@st.composite
def _pivot_queries(draw):
    if draw(st.booleans()):
        cols = draw(st.lists(
            st.sampled_from(["n_nationkey", "n_regionkey"]),
            min_size=1, max_size=2, unique=True))
        inc = draw(st.sampled_from(["", "INCLUDE NULLS "]))
        return (f"SELECT n_name, m, CAST(v AS BIGINT) AS v FROM "
                f"(SELECT n_name, n_nationkey, n_regionkey FROM nation) b "
                f"UNPIVOT {inc}(v FOR m IN ({', '.join(cols)})) "
                f"ORDER BY n_name, m")
    # DuckDB requires the pivot expression to be a BARE aggregate (no
    # CAST wrapper); plain int comparisons are type-agnostic here
    agg = draw(st.sampled_from(
        ["COUNT(n_nationkey)", "SUM(n_nationkey)", "MAX(n_name)"]))
    vals = draw(st.lists(st.integers(0, 4), min_size=1, max_size=3,
                         unique=True))
    vlist = ", ".join(str(v) for v in vals)
    outs = ", ".join(f'"{v}"' for v in vals)
    # DuckDB also rejects QUALIFIED columns inside the pivot expression
    return (f"SELECT {outs} FROM "
            f"(SELECT n_name, n_nationkey, n_regionkey % 5 AS bucket "
            f"FROM nation) b "
            f"PIVOT ({agg} FOR bucket IN ({vlist}))")


def _nsort(rows):
    # NULL-bearing pivot cells: plain sorted() chokes on None < int
    return sorted(rows, key=lambda r: tuple(
        (v is None, str(v)) for v in r))


@st.composite
def _bare_pivot_queries(draw):
    """r10: DuckDB's simplified PIVOT statement — implicit value
    discovery, drawn aggregates and GROUP BY shapes, identical SQL on
    both engines (the discovery pre-query must reproduce DuckDB's
    ascending column order exactly or the projection fails)."""
    agg = draw(st.sampled_from(
        ["count(n_nationkey)", "sum(n_nationkey)", "max(n_name)",
         "min(n_nationkey)"]))
    grp = draw(st.sampled_from(["", " GROUP BY bucket2"]))
    key = draw(st.sampled_from(["n_regionkey % 3", "n_regionkey"]))
    body = (f"(SELECT n_name, n_nationkey, {key} AS k, "
            f"n_nationkey % 2 AS bucket2 FROM nation)")
    # r11: multi-key ON k, k2 draws exercise the per-key discovery +
    # cross-product + '_'-joined naming path (DuckDB's rule)
    on_cols = draw(st.sampled_from(["k", "k, bucket2"]))
    if on_cols != "k":
        body = (f"(SELECT n_name, n_nationkey, {key} AS k, "
                f"n_nationkey % 2 AS bucket2, "
                f"n_regionkey % 2 AS grp3 FROM nation)")
        grp = " GROUP BY grp3"
    inner = f"PIVOT {body} ON {on_cols} USING {agg}{grp}"
    # no ORDER BY ALL here: the implicit pivot's output list resolves
    # at compile time, so ALL-expansion refuses loudly (rows are
    # sorted in Python below; column order still asserted)
    return f"WITH p AS ({inner}) SELECT * FROM p"


@settings(max_examples=25, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_bare_pivot_queries())
def test_bare_pivot_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = _nsort(map(tuple, conn.execute(sql).fetchall()))
    cols = [d[0] for d in conn.execute(sql).description]
    conn.close()
    got_local = local_eng.sql(sql)
    assert got_local.columns == cols, f"column order diverged: {sql}"
    assert _nsort(tuple(r) for r in got_local.collect()) == want, \
        f"LOCAL diverged on: {sql}"
    got_fed = _nsort(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_pivot_queries())
def test_pivot_unpivot_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = _nsort(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = _nsort(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = _nsort(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# round-8 exact-lowering graduations: DISTINCT window aggregates
# (SUM/AVG/MIN/MAX join COUNT), lag/lead IGNORE NULLS at any offset
# (with/without default), FETCH ... WITH TIES (boundary-probe
# lowering), MIN/MAX under frame EXCLUDE (collect lowering). NULLs are
# manufactured with NULLIF; LOCAL and FEDERATED both checked vs DuckDB
# (the federated arm exercises per-dialect refuse-then-compile-local
# for the constructs DuckDB cannot spell, e.g. WITH TIES).
# ---------------------------------------------------------------------------

@st.composite
def _r8_queries(draw):
    kind = draw(st.sampled_from(
        ["distinct_agg", "nth_null", "ties", "minmax_exclude"]))
    nv = f"NULLIF(n_regionkey, {draw(st.integers(0, 4))})"
    part = draw(st.sampled_from(["", "PARTITION BY n_regionkey"]))

    if kind == "distinct_agg":
        fn = draw(st.sampled_from(["SUM", "AVG", "COUNT", "MIN", "MAX"]))
        arg = draw(st.sampled_from(
            ["n_regionkey", nv, "n_nationkey % 4"]))
        order = draw(st.sampled_from(["", "ORDER BY n_nationkey"]))
        spec = " ".join(s for s in (part, order) if s)
        call = f"{fn}(DISTINCT {arg}) OVER ({spec})"
        e = (f"CAST(ROUND({call}, 4) AS DOUBLE)" if fn == "AVG"
             else f"CAST({call} AS BIGINT)")
        sql = f"SELECT n_nationkey, {e} AS w FROM nation"
        return sql, sql

    if kind == "nth_null":
        fn = draw(st.sampled_from(["lag", "lead"]))
        off = draw(st.integers(0, 4))
        dflt = draw(st.sampled_from(["", ", -9"]))
        spec = " ".join(s for s in (part, "ORDER BY n_nationkey") if s)
        sql = (f"SELECT n_nationkey, CAST({fn}({nv}, {off}{dflt} "
               f"IGNORE NULLS) OVER ({spec}) AS BIGINT) AS w "
               f"FROM nation")
        return sql, sql

    if kind == "ties":
        n = draw(st.integers(1, 30))
        m = draw(st.integers(0, 5))
        if m:
            # OFFSET inside a tie group is nondeterministic in EVERY
            # engine — only fuzz offsets over a total order
            keys = draw(st.sampled_from(
                ["n_nationkey", "n_regionkey, n_nationkey",
                 "n_regionkey DESC, n_name"]))
            duck = (f"SELECT n_nationkey, n_regionkey FROM "
                    f"(SELECT n_nationkey, n_regionkey, RANK() OVER "
                    f"(ORDER BY {keys}) AS r FROM nation) t "
                    f"WHERE r > {m} AND r <= {m + n}")
            off = f"OFFSET {m} ROWS "
        else:
            keys = draw(st.sampled_from(
                ["n_regionkey", "n_regionkey DESC", "n_name",
                 "n_regionkey, n_name DESC", "n_nationkey"]))
            duck = (f"SELECT n_nationkey, n_regionkey FROM "
                    f"(SELECT n_nationkey, n_regionkey, RANK() OVER "
                    f"(ORDER BY {keys}) AS r FROM nation) t "
                    f"WHERE r <= {n}")
            off = ""
        sql = (f"SELECT n_nationkey, n_regionkey FROM nation "
               f"ORDER BY {keys} {off}"
               f"FETCH FIRST {n} ROWS WITH TIES")
        return sql, duck

    # minmax_exclude
    fn = draw(st.sampled_from(["MIN", "MAX"]))
    frame, order = draw(st.sampled_from([
        ("ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
         "ORDER BY n_nationkey"),
        ("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
         "ORDER BY n_regionkey, n_name"),
        ("RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING",
         "ORDER BY n_regionkey"),
        ("RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
         "ORDER BY n_regionkey"),
    ]))
    mode = draw(st.sampled_from(
        ["CURRENT ROW", "GROUP", "TIES"]))
    spec = " ".join(s for s in (part, order, frame) if s)
    sql = (f"SELECT n_nationkey, CAST({fn}({nv}) OVER "
           f"({spec} EXCLUDE {mode}) AS BIGINT) AS w FROM nation")
    return sql, sql


@settings(max_examples=70, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pair=_r8_queries())
def test_r8_lowerings_local_and_federated_match_duckdb(engines, pair):
    import duckdb
    sql, duck_sql = pair
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(duck_sql).fetchall()))
    conn.close()
    got_local = sorted(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = sorted(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# round-8 session 2: CYCLE-clause fuzzer — parameterized modular walks
# n -> (a*n + b) mod m from every region start node, front-door CYCLE
# vs DuckDB's manual path rewrite (the defining semantics). Every draw
# is a UNION ALL recursion that only terminates BECAUSE of the clause.
# ---------------------------------------------------------------------------

@st.composite
def _cycle_walks(draw):
    a = draw(st.integers(1, 7))
    b = draw(st.integers(0, 7))
    m = draw(st.integers(3, 12))
    return a, b, m


@settings(max_examples=25, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(w=_cycle_walks())
def test_cycle_walks_match_duckdb_manual_rewrite(engines, w):
    import duckdb
    a, b, m = w
    local_eng, _ = engines
    from pyspark.sql import functions as F
    df = local_eng.sql(f"""
WITH RECURSIVE walk(s, n) AS (
  SELECT CAST(n_regionkey AS BIGINT), CAST(n_regionkey AS BIGINT)
  FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT s, ({a} * n + {b}) % {m} FROM walk
) CYCLE n SET ic USING p
SELECT s, n, ic, p FROM walk""")
    got = sorted(tuple(r) for r in df.select(
        "s", "n", "ic",
        F.array_join(F.transform("p", lambda x: x.cast("string")),
                     ",").alias("p")).collect())
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = sorted(map(tuple, conn.execute(f"""
WITH RECURSIVE walk(s, n, ic, p) AS (
  SELECT CAST(n_regionkey AS BIGINT), CAST(n_regionkey AS BIGINT),
         false, [CAST(n_regionkey AS BIGINT)]
  FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT s, ({a}*n+{b})%{m}, list_contains(p, ({a}*n+{b})%{m}),
         list_append(p, ({a}*n+{b})%{m})
  FROM walk WHERE NOT ic
)
SELECT s, n, ic, array_to_string(p, ',') FROM walk""").fetchall()))
    conn.close()
    assert got == want, f"CYCLE diverged on n -> ({a}n+{b}) % {m}"


# ---------------------------------------------------------------------------
# round-8 session 3: OUTER-JOIN fuzzer — LEFT/RIGHT/FULL/INNER with
# NULLIF-manufactured NULL join keys on either side, null-rejecting and
# NULL-tolerant WHERE above the join, COALESCE projections. Pins that
# push_filters' conservatism over outer joins is CORRECT (a predicate
# must not slip below the null-producing side) on LOCAL and FEDERATED
# (single-provider claims render the join remotely) vs DuckDB.
# ---------------------------------------------------------------------------

@st.composite
def _outer_join_queries(draw):
    how = draw(st.sampled_from(["LEFT", "RIGHT", "FULL", "INNER"]))
    # poison some join keys with NULLs on one or both sides
    lkey = draw(st.sampled_from(
        ["c_custkey", "NULLIF(c_custkey, 7)", "NULLIF(c_custkey, 11)"]))
    rkey = draw(st.sampled_from(
        ["o_custkey", "NULLIF(o_custkey, 7)"]))
    where = draw(st.sampled_from([
        "",                                        # none
        "WHERE n > 0",                             # on an aggregate
        "WHERE k IS NOT NULL",                     # null-rejecting left
        "WHERE k IS NULL OR total > 1000",         # null-tolerant mix
        "WHERE COALESCE(total, -1) < 50000",
    ]))
    agg = draw(st.sampled_from(
        ["CAST(COUNT(o_orderkey) AS BIGINT)",
         "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) "
         "AS DOUBLE)"]))
    return (
        f"SELECT k, n, total FROM ("
        f"SELECT c.k, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n, "
        f"{agg} AS total "
        f"FROM (SELECT {lkey} AS k, c_acctbal FROM customer "
        f"      WHERE c_custkey < 40) c "
        f"{how} JOIN "
        f"(SELECT {rkey} AS o_custkey, o_orderkey, o_totalprice "
        f" FROM orders WHERE o_orderkey % 3 = 0) o "
        f"ON c.k = o.o_custkey "
        f"GROUP BY c.k) t {where}")


def _nsort(rows):
    """None-safe row sort: outer joins emit NULL keys."""
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


@settings(max_examples=50, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_outer_join_queries())
def test_outer_join_shapes_local_and_federated_match_duckdb(engines2,
                                                            sql):
    import duckdb
    local_eng, remote_eng = engines2
    conn = duckdb.connect()
    for t in ("orders", "customer"):
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{t}.parquet')")
    want = _nsort(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = _nsort(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = _nsort(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# round-8 session 4: grouping-sets fuzzer — ROLLUP/CUBE/GROUPING SETS x
# GROUPING() markers x HAVING x aggregate mixes, LOCAL and FEDERATED
# (single-provider claims render the grouping sets remotely) vs DuckDB.
# NULL group keys come from both the set expansion AND NULLIF data.
# ---------------------------------------------------------------------------

@st.composite
def _grouping_set_queries(draw):
    k1 = draw(st.sampled_from(["n_regionkey", "NULLIF(n_regionkey, 2)"]))
    k2 = "n_nationkey % 3"
    form = draw(st.sampled_from([
        f"ROLLUP ({k1}, {k2})",
        f"CUBE ({k1}, {k2})",
        f"GROUPING SETS (({k1}, {k2}), ({k1}), ())",
        f"GROUPING SETS (({k1}), ({k2}))",
    ]))
    aggs = draw(st.sampled_from([
        "CAST(COUNT(*) AS BIGINT) AS c",
        "CAST(SUM(n_nationkey) AS BIGINT) AS s, "
        "CAST(COUNT(DISTINCT n_name) AS BIGINT) AS dc",
        "MIN(n_name) AS mn, CAST(COUNT(*) AS BIGINT) AS c",
    ]))
    mark = draw(st.sampled_from(
        ["", f", CAST(GROUPING({k1}) AS BIGINT) AS g1"]))
    having = draw(st.sampled_from(
        ["", " HAVING COUNT(*) > 2", " HAVING COUNT(*) > 1"]))
    return (f"SELECT {k1} AS a, {k2} AS b{mark}, {aggs} "
            f"FROM nation GROUP BY {form}{having}")


@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_grouping_set_queries())
def test_grouping_sets_local_and_federated_match_duckdb(engines, sql):
    import duckdb
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = _nsort(map(tuple, conn.execute(sql).fetchall()))
    conn.close()
    got_local = _nsort(tuple(r) for r in local_eng.sql(sql).collect())
    assert got_local == want, f"LOCAL diverged on: {sql}"
    got_fed = _nsort(tuple(r) for r in remote_eng.sql(sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {sql}"


# ---------------------------------------------------------------------------
# r9 (VERDICT r8 Next #2): COMPOSED shapes — each feature below is
# individually fuzzed above; these drive them through each other:
# recursive CTEs under window functions (outer AND base term), CYCLE
# output feeding a LATERAL, LATERAL over set-op chains, PIVOT input from
# a QUALIFY'd derived table. Engine and DuckDB run identical SQL except
# the CYCLE clause (no DuckDB spelling — the manual path rewrite is the
# oracle there, the q108 pattern).
# ---------------------------------------------------------------------------

@st.composite
def _composed_queries(draw):
    kind = draw(st.sampled_from(
        ["rec_window", "rec_window_base", "cycle_lateral",
         "lateral_setop", "pivot_qualify", "grouped_lateral"]))

    if kind == "grouped_lateral":
        # r9 graduation: LATERAL body with its own GROUP BY — one row
        # per group per outer row; comma form drops unmatched outer
        # rows, LEFT JOIN LATERAL null-extends them
        cut = draw(st.integers(2, 8))
        form = draw(st.sampled_from(["comma", "left"]))
        key = draw(st.sampled_from(["t.k", "t.k % 3"]))
        gcol = draw(st.sampled_from(["n_regionkey % 2", "n_name"]))
        body = (f"SELECT {gcol} AS g, CAST(COUNT(*) AS BIGINT) AS c, "
                f"CAST(SUM(n_nationkey) AS BIGINT) AS s FROM nation "
                f"WHERE n_regionkey = {key} GROUP BY {gcol}")
        left = (f"(SELECT n_nationkey AS k FROM nation "
                f"WHERE n_nationkey < {cut}) t")
        if form == "comma":
            sql = (f"SELECT t.k, l.g, l.c, l.s FROM {left}, "
                   f"LATERAL ({body}) l")
        else:
            sql = (f"SELECT t.k, l.g, l.c, l.s FROM {left} "
                   f"LEFT JOIN LATERAL ({body}) l ON TRUE")
        return sql, sql

    if kind == "rec_window":
        step = draw(st.integers(1, 3))
        stop = draw(st.integers(8, 15))
        union = draw(st.sampled_from(["UNION ALL", "UNION"]))
        wf = draw(st.sampled_from([
            "ROW_NUMBER() OVER (ORDER BY n)",
            "SUM(n) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)",
            "LAG(n, 1) OVER (ORDER BY n)",
            "RANK() OVER (PARTITION BY n % 2 ORDER BY n)",
            "COUNT(*) OVER (PARTITION BY n % 3)",
        ]))
        sql = (f"WITH RECURSIVE t(n) AS (SELECT 1 {union} "
               f"SELECT n + {step} FROM t WHERE n < {stop}) "
               f"SELECT n, CAST({wf} AS BIGINT) AS w FROM t")
        return sql, sql

    if kind == "rec_window_base":
        rk = draw(st.integers(0, 4))
        add = draw(st.integers(10, 20))
        stop = draw(st.integers(30, 60))
        sql = (f"WITH RECURSIVE t(n, r) AS ("
               f"SELECT n_nationkey, ROW_NUMBER() OVER "
               f"(ORDER BY n_nationkey) FROM nation "
               f"WHERE n_regionkey = {rk} "
               f"UNION ALL SELECT n + {add}, r FROM t WHERE n < {stop}) "
               f"SELECT n, CAST(r AS BIGINT) AS r FROM t")
        return sql, sql

    if kind == "cycle_lateral":
        a = draw(st.sampled_from([3, 7, 9]))
        b = draw(st.integers(1, 5))
        m = draw(st.sampled_from([10, 12, 15]))
        nxt = f"(n * {a} + {b}) % {m}"
        body = draw(st.sampled_from([
            "SELECT CAST(SUM(n_nationkey) AS BIGINT) AS s "
            "FROM nation WHERE n_regionkey = w.n % 5",
            "SELECT CAST(COUNT(*) AS BIGINT) AS s "
            "FROM nation WHERE n_regionkey = w.n % 5 "
            "AND n_nationkey > w.n",
        ]))
        eng_sql = (f"WITH RECURSIVE w(n) AS (SELECT 0 AS n UNION ALL "
                   f"SELECT {nxt} FROM w) CYCLE n SET ic USING p "
                   f"SELECT w.n, w.ic, l.s FROM w, LATERAL ({body}) l")
        duck_sql = (f"WITH RECURSIVE w(n, ic, p) AS ("
                    f"SELECT 0, false, [0] UNION ALL "
                    f"SELECT {nxt}, list_contains(p, {nxt}), "
                    f"list_append(p, {nxt}) FROM w WHERE NOT ic) "
                    f"SELECT w.n, w.ic, l.s FROM w, LATERAL ({body}) l")
        return eng_sql, duck_sql

    if kind == "lateral_setop":
        cut = draw(st.integers(2, 8))
        shift = draw(st.integers(0, 3))
        setop = draw(st.sampled_from(["UNION", "UNION ALL", "EXCEPT"]))
        chain = (f"SELECT n_nationkey AS k FROM nation "
                 f"WHERE n_nationkey < {cut} "
                 f"{setop} SELECT n_regionkey + {shift} FROM nation")
        body = draw(st.sampled_from([
            "SELECT CAST(COUNT(*) AS BIGINT) AS c, "
            "CAST(SUM(n_nationkey) AS BIGINT) AS s "
            "FROM nation WHERE n_regionkey = t.k % 5",
            "SELECT n_name AS nm FROM nation "
            "WHERE n_regionkey = t.k % 5 "
            "ORDER BY n_nationkey LIMIT 2",
            # r9: theta residue through the top-k arm (outer-tuple
            # partitioned window)
            "SELECT n_name AS nm FROM nation "
            "WHERE n_regionkey = t.k % 5 AND n_nationkey > t.k "
            "ORDER BY n_nationkey LIMIT 2",
        ]))
        cols = "l.c, l.s" if "COUNT" in body else "l.nm"
        sql = (f"SELECT t.k, {cols} FROM ({chain}) t, "
               f"LATERAL ({body}) l")
        return sql, sql

    # pivot_qualify
    k = draw(st.integers(1, 3))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    aggc = draw(st.sampled_from(
        ["COUNT(n_nationkey)", "SUM(n_nationkey)", "MAX(n_name)"]))
    vals = draw(st.lists(st.integers(0, 4), min_size=1, max_size=3,
                         unique=True))
    vlist = ", ".join(str(v) for v in vals)
    outs = ", ".join(f'"{v}"' for v in vals)
    sql = (f"SELECT {outs} FROM "
           f"(SELECT n_name, n_nationkey, n_regionkey % 5 AS bucket "
           f"FROM nation QUALIFY ROW_NUMBER() OVER "
           f"(PARTITION BY n_regionkey ORDER BY n_nationkey "
           f"{direction}) <= {k}) b "
           f"PIVOT ({aggc} FOR bucket IN ({vlist}))")
    return sql, sql


@settings(max_examples=70, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pair=_composed_queries())
def test_composed_shapes_local_and_federated_match_duckdb(engines, pair):
    import duckdb
    eng_sql, duck_sql = pair
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = _nsort(map(tuple, conn.execute(duck_sql).fetchall()))
    conn.close()
    got_local = _nsort(tuple(r) for r in local_eng.sql(eng_sql).collect())
    assert got_local == want, f"LOCAL diverged on: {eng_sql}"
    got_fed = _nsort(tuple(r) for r in remote_eng.sql(eng_sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {eng_sql}"


# ---------------------------------------------------------------------------
# r12 (VERDICT r11 Next #5): multi-key PIVOT and TABLESAMPLE composed
# under joins/CTEs/aggregates. TABLESAMPLE can't run natively on DuckDB
# (its sampler is an RNG draw), so the DuckDB side replays the exact
# deterministic hash predicate the lowering compiles — any drift in the
# key rendering, threshold rounding, or composition placement diverges.
# ---------------------------------------------------------------------------

def _replay_pred(seed: int, pct: float, cols) -> str:
    """The r12 TABLESAMPLE predicate, spelled for DuckDB."""
    bound = format(round(pct / 100.0 * 65536), "04x")
    parts = ", ".join(
        f"coalesce(md5(CAST({c} AS VARCHAR)), 'N')" for c in cols)
    return (f"substring(md5(concat('{seed}|', {parts})), 1, 4) "
            f"< '{bound}'")


@st.composite
def _sample_pivot_queries(draw):
    kind = draw(st.sampled_from(
        ["sample_agg", "sample_cte_join", "sample_derived_join",
         "sample_filtered", "sample_cte_ref", "sample_renamed",
         "sample_bool_expr", "sample_setop",
         "mk_pivot", "mk_pivot_multi_agg", "mk_pivot_where"]))

    if kind.startswith("mk_pivot"):
        # multi-key simplified PIVOT: independent per-key discovery,
        # crossed columns, '_'-joined names — DuckDB runs the SAME SQL
        mod = draw(st.integers(2, 4))
        gb = draw(st.sampled_from(["n_regionkey % 2", "n_regionkey"]))
        pred = (f"WHERE n_nationkey < {draw(st.integers(5, 25))}"
                if kind == "mk_pivot_where" else "")
        using = ("USING sum(n_nationkey) AS s, count(*) AS c"
                 if kind == "mk_pivot_multi_agg"
                 else "USING sum(n_nationkey) AS s")
        sql = (f"PIVOT (SELECT n_nationkey, n_regionkey, "
               f"n_nationkey % {mod} AS b, {gb} AS g FROM nation "
               f"{pred}) ON n_regionkey, b {using} GROUP BY g "
               f"ORDER BY g")
        return sql, sql

    seed = draw(st.integers(0, 60))
    pct = draw(st.sampled_from([10, 25, 40, 50, 75]))
    if kind == "sample_agg":
        # sample feeding an aggregate
        inner = "SELECT n_nationkey, n_regionkey FROM nation"
        cols = ["n_nationkey", "n_regionkey"]
        eng_sql = (f"SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n "
                   f"FROM ({inner}) t TABLESAMPLE BERNOULLI({pct}) "
                   f"REPEATABLE ({seed}) GROUP BY n_regionkey")
        duck_sql = (f"SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n "
                    f"FROM ({inner}) t "
                    f"WHERE {_replay_pred(seed, pct, cols)} "
                    f"GROUP BY n_regionkey")
        return eng_sql, duck_sql
    if kind == "sample_cte_join":
        # sample inside a CTE, joined back to the full table
        inner = "SELECT n_nationkey, n_regionkey FROM nation"
        cols = ["n_nationkey", "n_regionkey"]
        eng_sql = (f"WITH s AS (SELECT * FROM ({inner}) t "
                   f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})) "
                   f"SELECT s.n_nationkey, b.n_name FROM s "
                   f"JOIN nation b ON s.n_nationkey = b.n_nationkey")
        duck_sql = (f"WITH s AS (SELECT * FROM ({inner}) t "
                    f"WHERE {_replay_pred(seed, pct, cols)}) "
                    f"SELECT s.n_nationkey, b.n_name FROM s "
                    f"JOIN nation b ON s.n_nationkey = b.n_nationkey")
        return eng_sql, duck_sql
    if kind == "sample_filtered":
        # r13 (VERDICT r12 Next #4): sample over a FILTERED relation —
        # the filter below the sample leaves the key set unchanged
        cut = draw(st.integers(1, 4))
        inner = (f"SELECT n_nationkey, n_name FROM nation "
                 f"WHERE n_regionkey < {cut}")
        cols = ["n_nationkey", "n_name"]
        eng_sql = (f"SELECT n_nationkey, n_name FROM ({inner}) t "
                   f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})")
        duck_sql = (f"SELECT n_nationkey, n_name FROM ({inner}) t "
                    f"WHERE {_replay_pred(seed, pct, cols)}")
        return eng_sql, duck_sql
    if kind == "sample_cte_ref":
        # r13: sample suffixed to a CTE REFERENCE (filter + rename
        # inside the CTE body) — lowers to the pushed predicate over
        # the CTE's OUTPUT columns
        cut = draw(st.integers(5, 20))
        cte = (f"SELECT n_nationkey AS k, n_regionkey FROM nation "
               f"WHERE n_nationkey < {cut}")
        eng_sql = (f"WITH c AS ({cte}) SELECT k, n_regionkey FROM c "
                   f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})")
        duck_sql = (f"WITH c AS ({cte}) SELECT k, n_regionkey FROM c "
                    f"WHERE {_replay_pred(seed, pct, ['k', 'n_regionkey'])}")
        return eng_sql, duck_sql
    if kind == "sample_renamed":
        # r13: stacked plain-column renames compose down to the scan
        eng_sql = (f"SELECT k2 FROM (SELECT k AS k2 FROM "
                   f"(SELECT n_nationkey AS k FROM nation) a) b "
                   f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})")
        duck_sql = (f"SELECT k2 FROM (SELECT k AS k2 FROM "
                    f"(SELECT n_nationkey AS k FROM nation) a) b "
                    f"WHERE {_replay_pred(seed, pct, ['k2'])}")
        return eng_sql, duck_sql
    if kind == "sample_bool_expr":
        # r13 (VERDICT r12 Next #1): a BOOLEAN key column — the local
        # arm (expression projections stay local) and DuckDB both
        # render booleans 'true'/'false'/NULL-sentinel; the pushed
        # arm's CASE render is pinned in the unparser goldens
        cut = draw(st.integers(1, 4))
        inner = (f"SELECT n_nationkey, n_regionkey < {cut} AS flag "
                 f"FROM nation")
        eng_sql = (f"SELECT n_nationkey, flag FROM ({inner}) t "
                   f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})")
        duck_sql = (f"SELECT n_nationkey, flag FROM ({inner}) t "
                    f"WHERE {_replay_pred(seed, pct, ['n_nationkey', 'flag'])}")
        return eng_sql, duck_sql
    if kind == "sample_setop":
        # r13 review item: samples composed UNDER set operations —
        # each branch samples independently (different seeds), the
        # set op combines the sampled branches
        s2 = draw(st.integers(0, 60))
        cut = draw(st.integers(2, 4))
        op = draw(st.sampled_from(["UNION ALL", "UNION", "EXCEPT"]))
        b1 = (f"SELECT n_nationkey FROM (SELECT n_nationkey FROM "
              f"nation WHERE n_regionkey < {cut}) a "
              f"TABLESAMPLE BERNOULLI({pct}) REPEATABLE ({seed})")
        b2 = (f"SELECT n_nationkey FROM (SELECT n_nationkey FROM "
              f"nation) b TABLESAMPLE BERNOULLI({pct}) "
              f"REPEATABLE ({s2})")
        d1 = (f"SELECT n_nationkey FROM (SELECT n_nationkey FROM "
              f"nation WHERE n_regionkey < {cut}) a "
              f"WHERE {_replay_pred(seed, pct, ['n_nationkey'])}")
        d2 = (f"SELECT n_nationkey FROM (SELECT n_nationkey FROM "
              f"nation) b "
              f"WHERE {_replay_pred(s2, pct, ['n_nationkey'])}")
        return f"{b1} {op} {b2}", f"{d1} {op} {d2}"
    # sample_derived_join: sampled derived table on the right side
    inner = "SELECT n_nationkey, n_name FROM nation"
    cols = ["n_nationkey", "n_name"]
    eng_sql = (f"SELECT a.n_nationkey, s.n_name FROM nation a JOIN "
               f"(SELECT * FROM ({inner}) t TABLESAMPLE "
               f"BERNOULLI({pct}) REPEATABLE ({seed})) s "
               f"ON a.n_nationkey = s.n_nationkey "
               f"WHERE a.n_regionkey < 3")
    duck_sql = (f"SELECT a.n_nationkey, s.n_name FROM nation a JOIN "
                f"(SELECT * FROM ({inner}) t "
                f"WHERE {_replay_pred(seed, pct, cols)}) s "
                f"ON a.n_nationkey = s.n_nationkey "
                f"WHERE a.n_regionkey < 3")
    return eng_sql, duck_sql


@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pair=_sample_pivot_queries())
def test_sample_and_multikey_pivot_match_duckdb(engines, pair):
    import duckdb
    eng_sql, duck_sql = pair
    local_eng, remote_eng = engines
    conn = duckdb.connect()
    conn.execute(f"CREATE VIEW nation AS SELECT * FROM "
                 f"read_parquet('{TESTDATA}/nation.parquet')")
    want = _nsort(map(tuple, conn.execute(duck_sql).fetchall()))
    conn.close()
    got_local = _nsort(tuple(r)
                       for r in local_eng.sql(eng_sql).collect())
    assert got_local == want, f"LOCAL diverged on: {eng_sql}"
    got_fed = _nsort(tuple(r)
                     for r in remote_eng.sql(eng_sql).collect())
    assert got_fed == want, f"FEDERATED diverged on: {eng_sql}"
