"""End-to-end federation execution against a live DuckDB 'remote'
(the runnable analog of the reference's examples/df-csv-advanced.rs
two-engine demo): results must match the same SQL run directly in DuckDB,
the remote must be hit exactly once per federated node (no statistics
re-execution), and mixed plans must keep the local side local.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datafusion_federation_spark.expressions import (
    Alias, BinaryOp, Col, agg, col, lit,
)
from datafusion_federation_spark.plans.nodes import (
    RemoteQueryNode, walk_plan,
)
from tests.conftest import TESTDATA


def _duck_oracle(sql):
    conn = duckdb.connect()
    for t in ("orders", "customer", "nation", "lineitem"):
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{t}.parquet')")
    return conn.execute(sql).fetchall()


def test_federated_join_agg_matches_duckdb(duckdb_engine):
    eng, ex = duckdb_engine
    q0 = ex.metrics().get("queries", 0)
    b = (eng.table("orders")
         .join(eng.table("customer"),
               on=BinaryOp("=", col("o_custkey"), col("c_custkey")))
         .group_by("c_mktsegment")
         .agg(Alias(agg("count", col("o_orderkey")), "n"),
              Alias(agg("sum", col("o_totalprice")), "total")))
    fed = eng.compiler
    plan = b.plan
    from datafusion_federation_spark.federation import federate
    fplan = federate(plan)
    assert isinstance(fplan, RemoteQueryNode), \
        "join+agg on one provider must collapse to ONE remote query"
    df = eng.execute(plan)
    got = sorted((r[0], r[1], round(float(r[2]), 2))
                 for r in df.collect())
    want = sorted((r[0], r[1], round(float(r[2]), 2)) for r in _duck_oracle(
        "SELECT c_mktsegment, COUNT(o_orderkey) AS n, "
        "SUM(o_totalprice) AS total FROM orders "
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"))
    assert got == want
    # exactly ONE remote execution for the federated node — the
    # statistics hook must not re-run the query (VERDICT r1 #3)
    assert ex.metrics()["queries"] == q0 + 1


def test_mixed_plan_local_join_remote(duckdb_engine):
    eng, ex = duckdb_engine
    li = eng.table("lineitem")          # local parquet
    o = (eng.table("orders")            # remote
         .filter(BinaryOp(">", col("o_totalprice"), lit(100000.0))))
    b = (li.join(o, on=BinaryOp("=", col("l_orderkey"), col("o_orderkey")))
         .group_by("o_orderpriority")
         .agg(Alias(agg("count", col("l_orderkey")), "n")))
    from datafusion_federation_spark.federation import federate
    fplan = federate(b.plan)
    remotes = [n for n in walk_plan(fplan)
               if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1
    # the filter must be inside the remote SQL (pushdown close to storage)
    assert "o_totalprice" in remotes[0].sql
    assert "WHERE" in remotes[0].sql
    df = eng.execute(b.plan)
    got = sorted((r[0], r[1]) for r in df.collect())
    want = sorted(_duck_oracle(
        "SELECT o_orderpriority, COUNT(l_orderkey) AS n FROM ("
        f"SELECT * FROM read_parquet('{TESTDATA}/lineitem.parquet')) l "
        "JOIN (SELECT * FROM orders WHERE o_totalprice > 100000.0) o "
        "ON l.l_orderkey = o.o_orderkey GROUP BY o_orderpriority"))
    assert got == want


def test_remote_schema_discovery(duckdb_engine):
    eng, ex = duckdb_engine
    h = eng.catalog.table("orders")
    assert h.schema is not None
    names = [f.name for f in h.schema.fields]
    assert "o_orderkey" in names and "o_custkey" in names


def test_statistics_cache_no_remote_work(duckdb_engine):
    _, ex = duckdb_engine
    q0 = ex.metrics().get("queries", 0)
    assert ex.statistics("SELECT 1 AS never_ran") is None
    assert ex.metrics().get("queries", 0) == q0, \
        "statistics() must not issue remote queries"


def test_engine_sql_front_door(duckdb_engine):
    eng, _ = duckdb_engine
    df = eng.sql("SELECT COUNT(*) AS n FROM orders")
    n = df.collect()[0]["n"]
    want = _duck_oracle("SELECT COUNT(*) FROM orders")[0][0]
    assert n == want


def test_explain_shows_federated_sql(duckdb_engine):
    eng, ex = duckdb_engine
    b = (eng.table("orders")
         .filter(BinaryOp(">", col("o_totalprice"), lit(0.0)))
         .select("o_orderkey"))
    q0 = ex.metrics().get("queries", 0)
    out = b.explain()
    assert "Federated" in out
    assert "rewritten_sql" in out
    assert "o_orderkey" in out
    assert ex.metrics().get("queries", 0) == q0, \
        "plain explain must not run the remote query"


def test_explain_mixed_plan_runs_no_remote_query(duckdb_engine):
    """A remote dim joined to a local fact: plain explain plans the
    federated leaf as an empty frame of its inferred schema, so the
    remote engine sees nothing; explain(analyze=True) still runs it."""
    eng, ex = duckdb_engine
    sql = ("SELECT n_name, COUNT(*) AS n FROM lineitem "
           "JOIN orders ON l_orderkey = o_orderkey "
           "JOIN nation ON o_custkey % 25 = n_nationkey "
           "GROUP BY n_name")
    plan = eng.sql_plan(sql).plan
    q0 = ex.metrics().get("queries", 0)
    out = eng.explain(plan)
    assert "Federated" in out and "Spark physical plan" in out
    assert ex.metrics().get("queries", 0) == q0
    # the empty leaves must not let Catalyst fold the residue away: the
    # local scan and the joins above the remote leaves stay planned
    physical = out.split("== Spark physical plan (local residue) ==")[1]
    assert "lineitem" in physical
    assert "Join" in physical and "Aggregate" in physical
    assert "rows:" in eng.explain(plan, analyze=True)
    assert ex.metrics().get("queries", 0) > q0


def test_explain_does_not_memoize_theta_gate(duckdb_engine):
    """Plain explain plans the remote inner of a pure-theta LATERAL as
    an empty frame; the broadcast-nested-loop size gate must neither
    probe that frame nor remember a verdict from it, so running the
    same query over an inner larger than the gate still refuses."""
    eng, _ = duckdb_engine
    sql = """
SELECT c.c_custkey, s.n FROM customer c JOIN LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_totalprice > c.c_acctbal * 40) s ON TRUE"""
    eng.compiler.theta_bnl_rows = 10
    probes = eng.compiler._bnl_probe_count
    assert "BroadcastNestedLoopJoin" in eng.explain(eng.sql_plan(sql).plan)
    assert eng.compiler._bnl_probe_count == probes
    with pytest.raises(NotImplementedError, match="equality"):
        eng.sql(sql).collect()


def test_null_literal_column_over_remote_matches_local(duckdb_engine,
                                                        spark):
    """`NULL AS z` over a remote table: the cast target is Spark's
    VOID type, which no remote column type casts to — the cast layer
    must produce the NULL literal, matching Spark's own schema."""
    eng, _ = duckdb_engine
    q = ("SELECT c_custkey, NULL AS z FROM customer "
         "WHERE c_custkey < 4")
    spark.read.parquet(f"{TESTDATA}/customer.parquet") \
        .createOrReplaceTempView("customer")
    try:
        want = spark.sql(q)
        got = eng.sql(q)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
        assert got.collect(), "non-vacuous"
    finally:
        spark.catalog.dropTempView("customer")


def test_sqlite_result_gets_row_count_hint(spark):
    """Every executor whose rows reach the driver answers statistics()
    from the count it recorded: a small SQLite dim joined to a local
    fact plans as a broadcast join, and a write drops the count."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        SQLiteExecutor, SQLProvider)
    ex = SQLiteExecutor(name="sqlite_hint", compute_context="hint")
    ex.load_rows("dim", "CREATE TABLE dim (k INTEGER, label TEXT)",
                 [(i, f"l{i}") for i in range(5)])
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "dim")
    eng.register_local_df(
        "fact", spark.range(0, 100).selectExpr("id % 5 AS fk"))
    df = eng.sql("SELECT label, COUNT(*) AS n FROM fact "
                 "JOIN dim ON fk = k GROUP BY label")
    assert sorted(r.n for r in df.collect()) == [20] * 5
    last = ex.metrics()["last_sql"]
    assert ex.statistics(last) == 5
    assert "strategy=broadcast" in \
        df._jdf.queryExecution().optimizedPlan().toString()
    ex.execute_statement(None, "INSERT INTO dim VALUES (5, 'l5')")
    assert ex.statistics(last) is None


def test_catalog_discover_first_match_wins(spark):
    """discover() registers every remote table; a name already present is
    kept (MultiSchemaProvider first-match-wins, reference
    src/sql/schema.rs:131-138)."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    ex1 = DuckDBExecutor(name="d1", compute_context="c1")
    ex1.register_parquet("nation", f"{TESTDATA}/nation.parquet")
    ex2 = DuckDBExecutor(name="d2", compute_context="c2")
    ex2.register_parquet("nation", f"{TESTDATA}/nation.parquet")
    ex2.register_parquet("region", f"{TESTDATA}/region.parquet")

    eng = FederationEngine(spark)
    got1 = eng.discover(SQLProvider(ex1))
    got2 = eng.discover(SQLProvider(ex2))
    assert [h.local_name for h in got1] == ["nation"]
    assert [h.local_name for h in got2] == ["region"]   # nation kept on d1
    assert eng.catalog.table("nation").provider.name == "d1"
    assert eng.catalog.table("region").provider.name == "d2"


def test_spark_sql_executor_loopback(spark):
    """A second SparkSession acting as the remote engine: the federated
    subtree unparses to Spark SQL and runs on the other session."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.expressions import agg, col, lit
    from datafusion_federation_spark.sources.provider import (
        SparkSQLExecutor, SQLProvider)

    remote = spark.newSession()
    remote.read.parquet(f"{TESTDATA}/orders.parquet") \
        .createOrReplaceTempView("orders_remote")
    ex = SparkSQLExecutor(remote, name="spark_b")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "orders_remote")

    b = (eng.table("orders_remote")
         .filter(col("o_totalprice") > lit(100000.0))
         .group_by("o_orderpriority")
         .agg(agg("count").alias("n")))
    got = {r["o_orderpriority"]: r["n"] for r in b.to_df().collect()}
    want = {r["o_orderpriority"]: r["n"]
            for r in (spark.read.parquet(f"{TESTDATA}/orders.parquet")
                      .filter(F.col("o_totalprice") > 100000.0)
                      .groupBy("o_orderpriority").count()
                      .withColumnRenamed("count", "n").collect())}
    assert got == want
    assert "orders_remote" in ex.metrics()["last_sql"]


def test_whole_table_federated_read_carries_schema(duckdb_engine):
    """SQLProvider.claim populates the expected schema for whole-table
    shapes, engaging the schema-cast layer (review finding: it was dead
    on the federation path)."""
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import Scan
    eng, ex = duckdb_engine
    h = eng.catalog.table("nation")
    fed = federate(Scan(h))
    assert isinstance(fed, RemoteQueryNode)
    assert fed.schema is not None
    assert [f.name for f in fed.schema.fields] == \
        [f.name for f in h.schema.fields]


def test_sqlite_empty_result_no_crash(spark):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.expressions import col, lit
    from datafusion_federation_spark.sources.provider import (
        SQLiteExecutor, SQLProvider)
    lite = SQLiteExecutor(name="lite_empty", compute_context="e")
    lite.load_rows("t_small", "CREATE TABLE t_small (a INT, b TEXT)",
                   [(1, "x")])
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(lite), "t_small")
    out = (eng.table("t_small").filter(col("a") > lit(99))
           .select("a", "b").to_df())
    assert out.count() == 0
    assert set(out.columns) == {"a", "b"}


def test_sqlite_int_float_affinity(spark):
    from datafusion_federation_spark.sources.provider import SQLiteExecutor
    from pyspark.sql import types as T
    lite = SQLiteExecutor(name="lite_aff", compute_context="a")
    lite.load_rows("aff", "CREATE TABLE aff (x INT, y FLOAT, z NUMERIC)",
                   [(1, 2.5, 3.5)])
    sch = lite.get_table_schema(spark, "aff")
    assert sch["x"].dataType == T.LongType()
    assert sch["y"].dataType == T.DoubleType()
    assert sch["z"].dataType == T.DoubleType()


def test_bloom_prune_from_remote_dim(duckdb_engine):
    """The cross-SOURCE runtime-filter story end to end: the dim side
    (urgent orders) lives on the DuckDB remote, the fact side
    (lineitem) is local parquet. The dim's keys arrive as ONE federated
    scan with the filter inside the remote SQL; the Bloom filter built
    from them prunes the local fact before its join Exchange; the exact
    semi join then matches the two-engine oracle bit for bit — false
    positives never escape, however the remote hashed its rows."""
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.operators.sketches import (
        bloom_bits, bloom_prune)
    eng, ex = duckdb_engine
    q0 = ex.metrics().get("queries", 0)
    dim_plan = (eng.table("orders")
                .filter(BinaryOp("=", col("o_orderpriority"),
                                 lit("1-URGENT")))
                .select(col("o_orderkey")).plan)
    assert isinstance(federate(dim_plan), RemoteQueryNode), \
        "the dim scan must ship to the remote as one SQL query"
    dim = eng.execute(dim_plan)
    m_bits, kh = 1 << 14, 5
    fact = eng.spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
    pruned = bloom_prune(fact.select("l_orderkey", "l_quantity"),
                         "l_orderkey",
                         bloom_bits(dim, "o_orderkey", m_bits, kh),
                         m_bits, kh)
    keys = dim.select("o_orderkey").distinct()
    got = (pruned.join(keys,
                       pruned["l_orderkey"] == keys["o_orderkey"],
                       "left_semi")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
           .collect()[0])
    want = _duck_oracle(
        "SELECT COUNT(*), SUM(CAST(l_quantity AS BIGINT)) "
        "FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders "
        " WHERE o_orderpriority = '1-URGENT')")[0]
    assert (got.n, got.qty) == (want[0], want[1])
    # the dim fetch is the only remote execution in this test
    assert ex.metrics()["queries"] == q0 + 1


def test_q84_broadcast_posture_pins(spark):
    """The registered q84 row: statistics()-driven broadcast of a small
    federated dim against a local fact. The query function itself pins
    remote-filter pushdown, the cache-only statistics hit, the hint in
    the optimized plan, and the BroadcastHashJoin physical plan; here
    values are checked against DuckDB recomputing from parquet."""
    import duckdb

    import datafusion_federation_spark.queries_pipeline  # noqa: F401
    from datafusion_federation_spark.queries import REGISTRY
    from tests.conftest import TESTDATA

    fn, oracle = REGISTRY["q84_broadcast_posture"]
    got = [tuple(r) for r in fn(spark, TESTDATA).collect()]
    conn = duckdb.connect()
    for tbl in ("customer", "nation"):
        conn.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{tbl}.parquet')")
    want = [tuple(r) for r in conn.execute(oracle).fetchall()]
    conn.close()
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# r9 (VERDICT r8 Next #7): the r8 dialect gates exercised END TO END on a
# live engine — the gated construct must degrade to local compile, with the
# scan/sort subtree still claimed remotely and ZERO remote attempts at the
# construct itself.
# ---------------------------------------------------------------------------

class _RecordingSQLite:
    """SQLiteExecutor wrapper factory: captures every executed SQL."""

    @staticmethod
    def make(name, ctx):
        from datafusion_federation_spark.sources.provider import (
            SQLiteExecutor)

        class Rec(SQLiteExecutor):
            def __init__(self):
                super().__init__(name=name, compute_context=ctx)
                self.sent = []

            def execute(self, spark, sql, schema=None):
                self.sent.append(sql)
                return super().execute(spark, sql, schema)

        return Rec()


def test_with_ties_gate_degrades_live_on_sqlite(spark):
    """supports_fetch_with_ties=False (every dialect but Postgres): the
    whole-plan claim must refuse at unparse, the governing Sort must
    still ship, and no remote SQL may ever contain WITH TIES."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = _RecordingSQLite.make("lite_ties", "ties")
    ex.load_rows("tt", "CREATE TABLE tt (k INT, g INT)",
                 [(i, [10, 10, 20, 20, 20, 30, 40][i]) for i in range(7)])
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "tt")
    rows = eng.sql("SELECT k, g FROM tt ORDER BY g "
                   "FETCH FIRST 3 ROWS WITH TIES").collect()
    # boundary g=20 has 3 peers -> 5 rows (Postgres 13 semantics)
    assert sorted((r.k, r.g) for r in rows) == \
        [(0, 10), (1, 10), (2, 20), (3, 20), (4, 20)]
    assert ex.sent, "the scan/sort subtree must still execute remotely"
    assert not any("WITH TIES" in s.upper() for s in ex.sent), \
        f"gated construct reached the remote engine: {ex.sent}"


def test_ordered_agg_gate_degrades_live_on_sqlite(spark):
    """supports_agg_order_by=False on SQLite: STRING_AGG(... ORDER BY)
    must compile locally; the scan still ships; zero remote attempts
    at the ordered aggregate."""
    import duckdb

    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider

    data = [(i, i % 3, f"v{i}") for i in range(12)]
    ex = _RecordingSQLite.make("lite_oagg", "oagg")
    ex.load_rows("ta", "CREATE TABLE ta (k INT, g INT, v TEXT)", data)
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "ta")
    sql = ("SELECT g, STRING_AGG(v, ',' ORDER BY k DESC) AS s "
           "FROM ta GROUP BY g ORDER BY g")
    got = [(r.g, r.s) for r in eng.sql(sql).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE ta (k INT, g INT, v TEXT)")
    con.executemany("INSERT INTO ta VALUES (?,?,?)", data)
    want = con.execute(sql).fetchall()
    assert got == want
    assert ex.sent, "the scan must still execute remotely"
    joined = " ".join(s.upper() for s in ex.sent)
    assert "STRING_AGG" not in joined and "GROUP_CONCAT" not in joined, \
        f"ordered aggregate reached the remote engine: {ex.sent}"


@pytest.mark.parametrize("sql", [
    "SELECT n_nationkey FROM nation WHERE n_nationkey < 3 "
    "EXCEPT (SELECT n_nationkey FROM nation WHERE n_nationkey = 1)",
    "(SELECT n_nationkey FROM nation WHERE n_nationkey < 5 "
    "UNION SELECT n_regionkey FROM nation) "
    "INTERSECT (SELECT n_nationkey FROM nation WHERE n_nationkey > 2)",
    "SELECT n_nationkey, NULLIF(n_regionkey, 1) IS NOT DISTINCT FROM 2 "
    "AS b FROM nation",
])
def test_parser_gaps_claim_one_remote_query(duckdb_engine, sql):
    """A parenthesized set-operation branch and a bare `IS [NOT]
    DISTINCT FROM` select item parse in the front door, so the query
    claims as ONE remote query instead of falling back to Spark's
    parser over whole-table reads."""
    eng, ex = duckdb_engine

    def refuse(query, params=None):
        raise AssertionError(f"fell back to Spark SQL views: {query}")

    from datafusion_federation_spark.federation import federate
    eng._sql_via_views = refuse
    fed = federate(eng.sql_plan(sql).plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1
    assert remotes[0].sql != 'SELECT * FROM "nation"'
    q0 = ex.metrics().get("queries", 0)
    got = sorted(tuple(r) for r in eng.sql(sql).collect())
    assert ex.metrics().get("queries", 0) == q0 + 1
    assert got == sorted(_duck_oracle(sql))
    assert got, "non-vacuous"
