"""Two-engine federation — the reference's flagship demo
(examples/df-csv-advanced.rs: a join across a mock sqlite and a mock
postgres engine). Here both engines are LIVE: DuckDB and stdlib SQLite.
Each single-engine subtree must federate into its own remote query in
its own dialect, with the join executing in Spark.
"""

from __future__ import annotations

import pytest

from datafusion_federation_spark.expressions import BinaryOp, agg, col, lit
from datafusion_federation_spark.federation import federate
from datafusion_federation_spark.plans.nodes import (
    Join, RemoteQueryNode, walk_plan,
)
from datafusion_federation_spark.sources.provider import (
    DuckDBExecutor, SQLiteExecutor, SQLProvider)
from tests.conftest import TESTDATA


@pytest.fixture()
def two_engine(spark):
    from datafusion_federation_spark.engine import FederationEngine

    duck = DuckDBExecutor(name="duck", compute_context="2eng")
    duck.register_parquet("orders", f"{TESTDATA}/orders.parquet")

    lite = SQLiteExecutor(name="lite", compute_context="2eng")
    lite.load_rows(
        "priority_dim",
        "CREATE TABLE priority_dim (prio TEXT, weight INTEGER)",
        [("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 2), ("5-LOW", 1)])

    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(duck), "orders")
    eng.register_remote(SQLProvider(lite), "priority_dim")
    return eng, duck, lite


def test_cross_engine_join_two_remote_queries(two_engine):
    eng, duck, lite = two_engine
    b = (eng.table("orders")
         .filter(col("o_totalprice") > lit(100000))
         .join(eng.table("priority_dim"),
               on=col("o_orderpriority") == col("prio"))
         .group_by("weight")
         .agg(agg("count").alias("n")))
    fed = federate(b.plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 2, \
        "each engine's subtree must federate separately"
    by_provider = {n.provider.name: n for n in remotes}
    assert set(by_provider) == {"duck", "lite"}
    # the orders filter must ride inside the DuckDB SQL
    assert "o_totalprice" in by_provider["duck"].sql
    # the join itself stays in Spark
    assert isinstance(fed, Join) or not isinstance(fed, RemoteQueryNode)

    rows = {r["weight"]: r["n"] for r in b.to_df().collect()}
    # oracle: run the equivalent directly on DuckDB (it has both sides
    # via the parquet file + an inline VALUES dim)
    import duckdb
    conn = duckdb.connect()
    want = {w: n for w, n in conn.execute(f"""
        SELECT weight, COUNT(*) FROM
          (SELECT * FROM read_parquet('{TESTDATA}/orders.parquet')
           WHERE o_totalprice > 100000) o
        JOIN (VALUES ('1-URGENT',5),('2-HIGH',4),('3-MEDIUM',3),
                     ('4-NOT SPECIFIED',2),('5-LOW',1)) d(prio, weight)
        ON o.o_orderpriority = d.prio GROUP BY weight""").fetchall()}
    assert rows == want


def test_sqlite_dialect_sql_shipped(two_engine):
    eng, duck, lite = two_engine
    b = (eng.table("priority_dim")
         .filter(col("weight") >= lit(3))
         .select("prio"))
    out = sorted(r["prio"] for r in b.to_df().collect())
    assert out == ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    assert "weight" in lite.metrics()["last_sql"]


def test_sqlite_catalog_discovery(spark, two_engine):
    eng, duck, lite = two_engine
    assert "priority_dim" in lite.table_names()
    schema = lite.get_table_schema(spark, "priority_dim")
    assert [f.name for f in schema.fields] == ["prio", "weight"]


def test_reference_csv_demo_parity(spark, tmp_path):
    """Replicates the reference's runnable demo (examples/df-csv.rs +
    df-csv-advanced.rs): CSV-backed mock engines, a single-engine select
    and a two-engine join on `foo`."""
    csv1 = tmp_path / "test.csv"
    csv1.write_text("foo,bar\na,1\nb,2\nc,3\n")
    csv2 = tmp_path / "test2.csv"
    csv2.write_text("foo,bar\na,10\nb,20\nc,30\nd,40\ne,50\nf,60\n")

    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.expressions import col
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLiteExecutor, SQLProvider)

    duck = DuckDBExecutor(name="sqlite_mock", compute_context="csv")
    duck.register_csv("test", str(csv1))
    lite = SQLiteExecutor(name="postgres_mock", compute_context="csv")
    lite.load_rows("test2", "CREATE TABLE test2 (foo TEXT, bar INTEGER)",
                   [("a", 10), ("b", 20), ("c", 30),
                    ("d", 40), ("e", 50), ("f", 60)])

    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(duck), "t", "test")
    eng.register_remote(SQLProvider(lite), "a", "test2")

    # single-engine select (df-csv.rs: SELECT * FROM t)
    rows = (eng.table("t").select("foo", "bar").to_df()
            .orderBy("foo").collect())
    assert [(r["foo"], r["bar"]) for r in rows] == \
        [("a", 1), ("b", 2), ("c", 3)]

    # two-engine join (df-csv-advanced.rs: t JOIN a ON t.foo = a.foo)
    j = (eng.table("t").alias("t")
         .join(eng.table("a").alias("a"),
               on=col("t.foo") == col("a.foo"))
         .select(col("t.foo"), col("t.bar"), col("a.bar").alias("bar2")))
    out = sorted((r["foo"], r["bar"], r["bar2"])
                 for r in j.to_df().collect())
    assert out == [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)]


def test_sqlite_semi_join_exists_fallback_executes(spark, two_engine):
    """A semi join whose subtree federates to SQLite must ship the EXISTS
    spelling (SQLite has no SEMI JOIN) and run correctly."""
    from datafusion_federation_spark.expressions import col, lit
    eng, duck, lite = two_engine
    lite.load_rows("allowed",
                   "CREATE TABLE allowed (prio TEXT)",
                   [("1-URGENT",), ("2-HIGH",)])
    from datafusion_federation_spark.sources.provider import SQLProvider
    prov = eng.catalog.table("priority_dim").provider
    eng.register_remote(prov, "allowed")

    b = (eng.table("priority_dim")
         .join(eng.table("allowed"),
               on=col("priority_dim.prio") == col("allowed.prio"),
               how="semi")
         .select("prio", "weight"))
    out = sorted((r["prio"], r["weight"]) for r in b.to_df().collect())
    assert out == [("1-URGENT", 5), ("2-HIGH", 4)]
    assert "EXISTS" in lite.metrics()["last_sql"]


def test_sqlite_computed_result_gets_declared_types(spark, two_engine):
    """Universal schema-cast (reference src/sql/mod.rs:143-161): a
    federated SQLite join/agg — NOT a whole-table shape — must come back
    in the types Catalyst declares for the plan, not SQLite's affinity
    types. SQLite returns AVG as float and SUM(int) as int; the
    Spark-declared schema for sum(bigint) is bigint and for avg is
    double — the cast layer must enforce both."""
    from pyspark.sql import types as T
    eng, duck, lite = two_engine
    b = (eng.table("priority_dim")
         .group_by()
         .agg(agg("sum", col("weight")).alias("total_w"),
              agg("avg", col("weight")).alias("avg_w"),
              agg("count").alias("n")))
    fed = federate(b.plan)
    remotes = [n for n in walk_plan(fed) if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1 and remotes[0].provider.name == "lite"
    assert remotes[0].schema is None, \
        "claim() leaves a computed shape's schema to the compiler"
    df = b.to_df()
    by_name = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(by_name["total_w"], T.LongType)
    assert isinstance(by_name["avg_w"], T.DoubleType)
    assert isinstance(by_name["n"], T.LongType)
    row = df.collect()[0]
    assert (row["total_w"], row["n"]) == (15, 5)
    assert row["avg_w"] == 3.0


def test_sqlite_empty_result_keeps_declared_types(spark, two_engine):
    """The all-string empty-frame degradation (provider.py SQLite
    executor) must be unreachable on the federated path: a zero-row
    computed result still carries the plan's declared types, so a
    downstream typed join works in the empty case too."""
    from pyspark.sql import types as T
    eng, duck, lite = two_engine
    b = (eng.table("priority_dim")
         .filter(col("weight") > lit(1000))      # empty
         .group_by("prio")
         .agg(agg("sum", col("weight")).alias("total_w")))
    df = b.to_df()
    assert df.count() == 0
    by_name = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(by_name["prio"], T.StringType)
    assert isinstance(by_name["total_w"], T.LongType)
    # downstream typed arithmetic on the empty frame must analyze fine
    assert df.selectExpr("total_w + 1").count() == 0


def test_cross_engine_join_on_empty_sqlite_side(spark, two_engine):
    """Typed empty-path consistency: joining a typed local frame to an
    EMPTY federated SQLite result must behave exactly like the non-empty
    case (this failed with all-string frames before schema inference)."""
    eng, duck, lite = two_engine
    b = (eng.table("orders")
         .join(eng.table("priority_dim")
               .filter(col("weight") > lit(1000)),   # empty remote side
               on=col("o_orderpriority") == col("prio"))
         .group_by("weight")
         .agg(agg("count").alias("n")))
    assert b.to_df().count() == 0


def test_unsupported_unparse_degrades_to_smaller_claims(two_engine):
    """A construct the remote dialect cannot express (qualified
    t.* EXCEPT on SQLite) must not crash federation: the scan below
    still federates whole-table and the projection compiles locally
    (review r3: the advertised 'compile locally' fallback now exists)."""
    eng, duck, lite = two_engine
    sql = "SELECT p.* EXCEPT (weight) FROM priority_dim p"
    plan = federate(eng.sql_plan(sql).plan)
    assert not isinstance(plan, RemoteQueryNode), \
        "the star-EXCEPT projection must stay local"
    remotes = [n for n in walk_plan(plan) if isinstance(n, RemoteQueryNode)]
    assert remotes and remotes[0].provider.name == "lite", \
        "the scan below the unsupported projection must still federate"
    df = eng.sql(sql)
    assert df.columns == ["prio"]
    assert df.count() == 5


def test_unqualified_star_except_expands_for_sqlite(two_engine):
    """Unqualified * EXCEPT against a SQLite remote: the unparser knows
    the scan schema, so it expands to an explicit column list and the
    whole query STILL federates."""
    eng, duck, lite = two_engine
    sql = "SELECT * EXCEPT (weight) FROM priority_dim"
    plan = federate(eng.sql_plan(sql).plan)
    assert isinstance(plan, RemoteQueryNode)
    assert '"prio"' in plan.sql and "weight" not in plan.sql.split("FROM")[0]
    assert sorted(r[0] for r in eng.sql(sql).collect()) == sorted(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def test_untranslatable_function_degrades_not_wrong(two_engine):
    """3-arg locate has no SQLite translation (template is 2-arg);
    shipping it through str.format would silently DROP the position
    argument. It must instead compile locally with correct semantics."""
    from datafusion_federation_spark.expressions import col, func, lit
    eng, duck, lite = two_engine
    b = (eng.table("priority_dim")
         .select(col("prio"),
                 func("locate", lit("H"), col("prio"), lit(4))
                 .alias("pos")))
    plan = federate(b.plan)
    assert not isinstance(plan, RemoteQueryNode), \
        "untranslatable function must keep the projection local"
    got = {(r["prio"], r["pos"]) for r in b.to_df().collect()}
    # Spark semantics: search starts at position 4 (1-based)
    assert ("2-HIGH", 6) in got          # 'H' at 3 skipped, 'H' at 6 found
    assert ("3-MEDIUM", 0) in got        # no 'H' at/after pos 4


def test_local_csv_json_sources_federate_with_remote(spark, tmp_path):
    """r6: LOCAL CSV/JSON registration (the reference's examples are
    CSV-backed) — a local CSV table joins a remote DuckDB table; only
    the remote subtree federates, the CSV side stays a native Spark
    scan, and the SQL front door sees both."""
    csvp = tmp_path / "dim.csv"
    csvp.write_text("k,name\n1,one\n2,two\n3,three\n")
    jsonp = tmp_path / "facts.json"
    jsonp.write_text('{"k": 1, "v": 10}\n{"k": 2, "v": 20}\n'
                     '{"k": 2, "v": 5}\n{"k": 9, "v": 99}\n')

    from datafusion_federation_spark.engine import FederationEngine
    duck = DuckDBExecutor(name="duck_csvj", compute_context="csvj")
    duck.register_csv("rdim", str(csvp))

    eng = FederationEngine(spark)
    eng.register_local_csv("dim", str(csvp))
    eng.register_local_json("facts", str(jsonp))
    eng.register_remote(SQLProvider(duck), "rdim")

    # pure-local join across the two formats through the SQL front door
    out = sorted(tuple(r) for r in eng.sql(
        "SELECT d.name, CAST(SUM(f.v) AS BIGINT) AS tot "
        "FROM facts f JOIN dim d ON f.k = d.k "
        "GROUP BY d.name").collect())
    assert out == [("one", 10), ("two", 25)]

    # local JSON x remote CSV: only the remote side becomes a
    # RemoteQueryNode
    b = eng.sql_plan(
        "SELECT d.name, f.v FROM facts f "
        "JOIN rdim d ON f.k = d.k WHERE f.v > 5")
    fed = federate(b.plan)
    remotes = [n for n in walk_plan(fed)
               if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1 and remotes[0].provider.name == "duck_csvj"
    rows = sorted(tuple(r) for r in eng.execute(fed).collect())
    assert rows == [("one", 10), ("two", 20)]


def test_q81_registered_two_engine_split(spark):
    """The driver-recorded q81 row: two live engines, one SQL string,
    plan pin inside the query function (2 distinct providers, zero
    remote cross-joins), values vs DuckDB recomputing from parquet."""
    import duckdb

    import datafusion_federation_spark.queries_pipeline  # noqa: F401
    from datafusion_federation_spark.queries import REGISTRY

    fn, oracle = REGISTRY["q81_two_engine_split"]
    got = [(r.n_name, r.n_customers, r.total_bal)
           for r in fn(spark, TESTDATA).collect()]
    conn = duckdb.connect()
    for tbl in ("customer", "nation"):
        conn.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                     f"read_parquet('{TESTDATA}/{tbl}.parquet')")
    want = [tuple(r) for r in conn.execute(oracle).fetchall()]
    assert got == want and len(got) > 0


def test_local_orc_source_pushdown_and_federation(spark, tmp_path):
    """r7: LOCAL ORC registration completes the native file-format set
    (parquet/CSV/JSON/ORC). The ORC side stays a native Spark scan
    with the filter pushed into the ORC reader (PushedFilters in the
    scan node); joining a remote DuckDB table federates only the
    remote subtree; INSERT INTO appends in the table's own format."""
    orcp = str(tmp_path / "cust.orc")
    spark.read.parquet(f"{TESTDATA}/customer.parquet") \
        .select("c_custkey", "c_nationkey", "c_acctbal") \
        .write.orc(orcp)

    from datafusion_federation_spark.engine import FederationEngine
    duck = DuckDBExecutor(name="duck_orc", compute_context="orc")
    duck.register_parquet("nation", f"{TESTDATA}/nation.parquet")

    eng = FederationEngine(spark)
    h = eng.register_local_orc("cust", orcp)
    assert h.schema is not None and h.fallback_format == "orc"
    eng.register_remote(SQLProvider(duck), "nation")

    b = eng.sql_plan(
        "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM cust JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > 5000 GROUP BY n_name")
    fed = federate(b.plan)
    remotes = [n for n in walk_plan(fed)
               if isinstance(n, RemoteQueryNode)]
    assert len(remotes) == 1 and remotes[0].provider.name == "duck_orc"
    df = eng.execute(fed)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()
    assert "PushedFilters: [" in plan and "c_acctbal" in \
        plan[plan.index("PushedFilters"):plan.index("PushedFilters")
             + 200], "acctbal filter did not reach the ORC scan"
    import duckdb
    want = sorted(map(tuple, duckdb.sql(
        f"SELECT n_name, COUNT(*) FROM "
        f"'{TESTDATA}/customer.parquet' c JOIN "
        f"'{TESTDATA}/nation.parquet' n ON c_nationkey = n_nationkey "
        f"WHERE c_acctbal > 5000 GROUP BY n_name").fetchall()))
    assert sorted(tuple(r) for r in df.collect()) == want

    # INSERT passthrough respects the format (appends ORC, not parquet)
    eng.insert_into("cust", spark.createDataFrame(
        [(999999, 0, 1.5)], "c_custkey long, c_nationkey long, "
        "c_acctbal double"))
    assert spark.read.orc(orcp).filter("c_custkey = 999999").count() == 1


def test_partitioned_parquet_scan_prunes_partitions(spark, tmp_path):
    """100 TB layout pin: a corpus written partitioned by a key column
    is read back through the engine with the partition predicate
    resolved at PLANNING time — the scan's PartitionFilters carries
    it and only matching directories are listed (the partition-pruning
    posture every curation pipeline relies on)."""
    path = str(tmp_path / "docs_part")
    spark.read.parquet(f"{TESTDATA}/documents.parquet") \
        .write.partitionBy("lang").parquet(path)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("docs", path)
    df = eng.sql("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs "
                 "WHERE lang = 'en'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    i = plan.index("PartitionFilters")
    assert "lang" in plan[i:i + 200], \
        "lang predicate did not become a partition filter"
    import duckdb
    want = duckdb.sql(
        f"SELECT COUNT(*) FROM '{TESTDATA}/documents.parquet' "
        f"WHERE lang = 'en'").fetchone()[0]
    assert df.collect()[0].n == want
