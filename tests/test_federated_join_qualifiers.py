"""Qualified references above a federated join.

When two remote tables on one provider are joined and a local table is
joined to the result, the remote join collapses into one remote query
whose result carries a single qualifier. References to every qualifier
it absorbed must still resolve, with table aliases and with bare table
names, in a qualified star and from a correlated subquery; a name more
than one input produces is refused by name.
"""

from __future__ import annotations

import duckdb
import pytest

from datafusion_federation_spark.federation import AmbiguousFederatedColumn
from datafusion_federation_spark.plans.nodes import RemoteQueryNode, walk_plan
from datafusion_federation_spark.sources.provider import (
    DuckDBExecutor, SQLProvider)
from tests.conftest import TESTDATA


def _duck(sql):
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{TESTDATA}/{t}.parquet'")
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _remote_joins(eng, sql):
    """Remote queries of the federated plan that join two tables."""
    from datafusion_federation_spark.engine import federate
    plan = federate(eng.sql_plan(sql).plan)
    return [n for n in walk_plan(plan) if isinstance(n, RemoteQueryNode)
            and "JOIN" in n.sql.upper()]


@pytest.mark.parametrize("sql", [
    "SELECT COUNT(*) FROM orders o JOIN customer c "
    "ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey",
    "SELECT COUNT(*) FROM orders JOIN customer "
    "ON orders.o_custkey = customer.c_custkey "
    "JOIN lineitem ON lineitem.l_orderkey = orders.o_orderkey",
    "SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n, "
    "SUM(l.l_quantity) AS q FROM orders o JOIN customer c "
    "ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_acctbal > 0 AND l.l_quantity < 30 "
    "GROUP BY c.c_mktsegment, o.o_orderpriority",
    "SELECT customer.c_name, lineitem.l_linenumber FROM customer "
    "JOIN orders ON orders.o_custkey = customer.c_custkey "
    "JOIN lineitem ON lineitem.l_orderkey = orders.o_orderkey "
    "WHERE customer.c_custkey < 20",
    "SELECT c.*, l.l_linenumber FROM orders o JOIN customer c "
    "ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey WHERE c.c_custkey < 5",
    "SELECT COUNT(*) FROM orders o JOIN customer c "
    "ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
    "WHERE l2.l_orderkey = o.o_orderkey AND l2.l_suppkey = c.c_nationkey)",
])
def test_collapsed_remote_join_keeps_its_qualifiers(duckdb_engine, sql):
    eng, _ = duckdb_engine
    assert len(_remote_joins(eng, sql)) == 1, "orders and customer collapse"
    got = sorted(tuple(r) for r in eng.sql(sql).collect())
    assert got == _duck(sql)
    assert got, "non-vacuous"


@pytest.fixture()
def dup_engine(spark):
    """Remote a(k, v) and b(k, w) on one DuckDB, local loc(k)."""
    from datafusion_federation_spark.engine import FederationEngine

    ex = DuckDBExecutor(name="dup_names", compute_context="dup_names")
    ex.conn.execute("CREATE TABLE a AS SELECT * FROM (VALUES "
                    "(1, 10), (2, 20), (3, 30)) AS t(k, v)")
    ex.conn.execute("CREATE TABLE b AS SELECT * FROM (VALUES "
                    "(1, 100), (2, 200), (4, 400)) AS t(k, w)")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "a")
    eng.register_remote(prov, "b")
    eng.register_local_df("loc", spark.createDataFrame(
        [(10,), (20,), (30,)], "k int"))
    return eng


def test_unshared_names_resolve_next_to_a_shared_one(dup_engine):
    sql = ("SELECT a.v, b.w FROM a JOIN b ON a.k = b.k "
           "JOIN loc ON loc.k = a.v")
    assert sorted(tuple(r) for r in dup_engine.sql(sql).collect()) \
        == [(10, 100), (20, 200)]


def test_shared_name_is_refused_by_name(dup_engine):
    sql = ("SELECT a.k FROM a JOIN b ON a.k = b.k "
           "JOIN loc ON loc.k = a.v")
    with pytest.raises(AmbiguousFederatedColumn, match="a.k"):
        dup_engine.sql(sql).collect()
