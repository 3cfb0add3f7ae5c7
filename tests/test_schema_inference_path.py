"""Schema inference of claimed sub-plans has one path: the engine's
compiler, with its own session and its own bounded cache.

Pins: a replaced table is re-inferred (no stale cast target), threaded
callers reuse the cache like the main thread, DML never infers a schema
nothing reads, inference failures are counted, a federated quantifier
subquery resolves its output column through the inferred schema, and
the DuckDB executor's row-count cache is bounded.
"""

from __future__ import annotations

import threading

import duckdb
import pyarrow as pa
import pytest

from datafusion_federation_spark import schema_infer
from datafusion_federation_spark.sources import provider as provider_mod
from datafusion_federation_spark.sources.provider import (
    CACHE_MAX, DuckDBExecutor, SQLProvider)
from tests.conftest import TESTDATA


@pytest.fixture()
def src_engine(spark):
    """An engine over one DuckDB remote holding src(k INT, v DOUBLE,
    s VARCHAR) and an empty dst of the same shape."""
    from datafusion_federation_spark.engine import FederationEngine

    ex = DuckDBExecutor(name="infer_path", compute_context="infer_path")
    ex.conn.execute(
        "CREATE TABLE src AS SELECT * FROM (VALUES "
        "(1, 1.5, 'a,b'), (2, 3.0, 'c,d'), (3, 4.5, 'e,f'), "
        "(4, 6.0, 'g,h')) AS v(k, v, s)")
    ex.conn.execute("CREATE TABLE dst AS SELECT * FROM src WHERE false")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "src")
    eng.register_remote(prov, "dst")
    return eng, ex


@pytest.fixture()
def analyses(monkeypatch):
    """Counts Catalyst analyses: every cache miss runs one."""
    calls = []
    orig = schema_infer._ShellCompiler.compile

    def counting(self, plan):
        calls.append(plan)
        return orig(self, plan)

    monkeypatch.setattr(schema_infer._ShellCompiler, "compile", counting)
    return calls


def test_replaced_table_is_reinferred(src_engine):
    from pyspark.sql import types as T
    eng, _ = src_engine
    q = "SELECT v FROM t WHERE k > 2"
    eng.sql("CREATE TABLE t AS SELECT k, CAST(k AS BIGINT) AS v FROM src")
    df = eng.sql(q)
    assert isinstance(df.schema["v"].dataType, T.LongType)
    assert sorted(r.v for r in df.collect()) == [3, 4]
    eng.sql("CREATE OR REPLACE TABLE t AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM src")
    df = eng.sql(q)
    assert isinstance(df.schema["v"].dataType, T.DoubleType)
    assert sorted(r.v for r in df.collect()) == [4.5, 6.0]


def test_worker_thread_reuses_the_engine_cache(src_engine, analyses):
    eng, _ = src_engine
    q = "SELECT k, SUM(v) AS sv FROM src WHERE k > 1 GROUP BY k"
    out, errors = [], []

    def run():
        try:
            for _ in range(3):
                out.append(sorted(tuple(r) for r in eng.sql(q).collect()))
        except Exception as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert not errors, errors
    assert out == [[(2, 3.0), (3, 4.5), (4, 6.0)]] * 3
    assert len(analyses) == 1


def test_remote_insert_select_infers_nothing(src_engine, analyses):
    eng, ex = src_engine
    stmt = "INSERT INTO dst SELECT k, v, s FROM src WHERE k > 2"
    staged = eng.sql("EXPLAIN " + stmt).collect()[0].plan
    assert staged.startswith("INSERT INTO")
    assert eng.sql(stmt) == 2
    assert ex.conn.execute("SELECT count(*) FROM dst").fetchone()[0] == 2
    assert analyses == []


def test_inference_failure_is_counted(src_engine):
    eng, _ = src_engine
    cache = eng.compiler._schema_cache
    rows = eng.sql("SELECT k, len(string_split(s, ',')) AS n FROM src "
                   "WHERE k < 3").collect()
    assert sorted((r.k, r.n) for r in rows) == [(1, 2), (2, 2)]
    assert cache.failures == 1
    assert "string_split" in cache.last_failure.lower()


def test_federated_any_subquery_with_expression_body(spark, analyses):
    """An uncorrelated ANY body that runs wholly on one remote is claimed
    with no schema; the min/max the quantifier rewrite builds over it
    must name the column the executed frame is cast to, not the
    expression's "expr" label, which Spark never assigns."""
    from datafusion_federation_spark.engine import FederationEngine

    ex = DuckDBExecutor(name="any_remote", compute_context="any_remote")
    ex.register_parquet("orders", f"{TESTDATA}/orders.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "orders")
    eng.register_local_parquet("customer", f"{TESTDATA}/customer.parquet")
    sql = ("SELECT c_custkey FROM customer WHERE c_acctbal < ANY "
           "(SELECT o_totalprice / 100 FROM orders) ORDER BY c_custkey")
    got = [r[0] for r in eng.sql(sql).collect()]
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{TESTDATA}/{t}.parquet'")
    assert got == [r[0] for r in con.execute(sql).fetchall()]
    assert got, "non-vacuous"
    assert len(analyses) == 1, "the ANY body ran federated, inferred"


def test_duckdb_row_cache_is_bounded(monkeypatch):
    monkeypatch.setattr(provider_mod, "arrow_to_spark",
                        lambda spark, arrow, schema=None: arrow)
    ex = DuckDBExecutor(name="row_cache", compute_context="row_cache")
    sqls = [f"SELECT {i} AS x" for i in range(2 * CACHE_MAX)]
    for sql in sqls:
        ex.execute(None, sql)
    assert len(ex._row_cache) == CACHE_MAX
    assert ex.statistics(sqls[-1]) == 1
    assert ex.statistics(sqls[0]) is None


def test_duckdb_insert_drops_cached_row_counts(monkeypatch):
    monkeypatch.setattr(provider_mod, "arrow_to_spark",
                        lambda spark, arrow, schema=None: arrow)
    ex = DuckDBExecutor(name="row_cache_ins", compute_context="row_cache")
    ex.conn.execute("CREATE TABLE t (x INTEGER)")
    sql = 'SELECT * FROM "t"'
    ex.execute(None, sql)
    assert ex.statistics(sql) == 0

    class _Frame:
        def toArrow(self):
            return pa.table({"x": pa.array([1, 2], pa.int32())})

    assert ex.insert(None, _Frame(), "t") == 2
    assert ex.statistics(sql) is None
