"""Schema inference keyed on a claimed plan's shape, and the schema cast
skipped when the remote result already has the expected names and types.

Pins: queries differing only in predicate literals (WHERE, join ON)
share one Catalyst analysis; literals that decide a column's name or
type never share an entry; a long run of ad-hoc queries with fresh
literals leaves one entry per shape; the cast runs only when it renames
or retypes a column; the theta-BNL verdict memo is a bounded LRU.
Every query result is checked against DuckDB.
"""

from __future__ import annotations

import math
import random
from datetime import date, timedelta

import duckdb
import pytest

from datafusion_federation_spark import compiler as compiler_mod
from datafusion_federation_spark import schema_infer
from datafusion_federation_spark.expressions import Lit
from datafusion_federation_spark.sources.provider import (
    CACHE_MAX, DuckDBExecutor, SQLProvider)
from tests.conftest import TESTDATA

TABLES = ("orders", "customer", "nation", "supplier", "part")


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{TESTDATA}/{t}.parquet'")
    return con


@pytest.fixture()
def engine(spark):
    from datafusion_federation_spark.engine import FederationEngine

    ex = DuckDBExecutor(name="shape_cache", compute_context="shape_cache")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    for t in TABLES:
        ex.register_parquet(t, f"{TESTDATA}/{t}.parquet")
        eng.register_remote(prov, t)
    return eng


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


@pytest.fixture()
def casts(monkeypatch):
    """Counts schema casts appended after a remote read."""
    calls = []
    orig = compiler_mod.cast_dataframe

    def counting(df, schema, *a, **k):
        calls.append(schema)
        return orig(df, schema, *a, **k)

    monkeypatch.setattr(compiler_mod, "cast_dataframe", counting)
    return calls


def _same(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        float(x), float(y), rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def _check(eng, oracle, sql):
    """Run ``sql`` federated and return its DataFrame after checking the
    rows against DuckDB (order-insensitive)."""
    df = eng.sql(sql)
    got = sorted((tuple(r) for r in df.collect()), key=repr)
    want = sorted((tuple(r) for r in oracle.execute(sql).fetchall()),
                  key=repr)
    assert _same(got, want), (sql, got[:5], want[:5])
    return df


def _spark_types(spark, sql):
    """The (name, type) list Spark itself gives ``sql`` over the same
    customer data read locally."""
    spark.read.parquet(f"{TESTDATA}/customer.parquet") \
        .createOrReplaceTempView("shape_cache_customer")
    local = sql.replace("FROM customer", "FROM shape_cache_customer")
    return [(f.name, f.dataType) for f in spark.sql(local).schema.fields]


def test_predicate_literals_share_one_analysis(engine, oracle, analyses):
    template = (
        "SELECT c.c_custkey, c.c_name, o.o_orderkey FROM customer c "
        "JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderkey > {k} "
        "WHERE c.c_acctbal > {bal} AND c.c_mktsegment = '{seg}' "
        "AND o.o_orderdate >= DATE '{day}'")
    literals = [(10, "100.25", "BUILDING", "1994-01-01"),
                (2000, "-50.5", "MACHINERY", "1996-06-30"),
                (0, "9000", "AUTOMOBILE", "1992-02-29"),
                (3000000000, "1.125", "HOUSEHOLD", "1998-12-31")]
    total = 0
    for k, bal, seg, day in literals:
        df = _check(engine, oracle, template.format(
            k=k, bal=bal, seg=seg, day=day))
        total += df.count()
    assert total > 0, "non-vacuous"
    assert len(analyses) == 1
    assert len(engine.compiler._schema_cache) == 1


@pytest.mark.parametrize("first,second", [
    ("SELECT c_custkey, 1 AS v FROM customer WHERE c_custkey < 4",
     "SELECT c_custkey, 2147483648 AS v FROM customer WHERE c_custkey < 4"),
    ("SELECT c_custkey, round(CAST(c_acctbal AS DECIMAL(12,2)), 1) AS v "
     "FROM customer WHERE c_custkey < 4",
     "SELECT c_custkey, round(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS v "
     "FROM customer WHERE c_custkey < 4"),
    ("SELECT 5, c_custkey FROM customer WHERE c_custkey < 4",
     "SELECT 6, c_custkey FROM customer WHERE c_custkey < 4"),
])
def test_output_literals_never_share_an_entry(
        spark, engine, oracle, analyses, first, second):
    for sql in (first, second):
        df = _check(engine, oracle, sql)
        assert [(f.name, f.dataType) for f in df.schema.fields] \
            == _spark_types(spark, sql), sql
    assert len(analyses) == 2
    assert len(engine.compiler._schema_cache) == 2


def test_decimal_literal_scales_never_share_an_entry(
        spark, engine, oracle, analyses):
    """The SQL front door reads ``1.5`` as a double, so the decimal
    literals are built as plan nodes: decimal(2,1) and decimal(3,2)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from datafusion_federation_spark.expressions import Alias, BinaryOp, col
    from datafusion_federation_spark.plans.nodes import (
        Filter, Project, Scan)

    for text in ("1.5", "1.25"):
        v = Decimal(text)
        plan = Project(
            Filter(Scan(engine.catalog.table("customer")),
                   BinaryOp("<", col("c_custkey"), Lit(4))),
            [col("c_custkey"), Alias(Lit(v), "v")])
        df = engine.execute(plan)
        want = spark.range(1).select(F.lit(v).alias("v")).schema["v"]
        assert df.schema["v"].dataType == want.dataType
        got = sorted(tuple(r) for r in df.collect())
        assert got == sorted(oracle.execute(
            f"SELECT c_custkey, {text} AS v FROM customer "
            "WHERE c_custkey < 4").fetchall())
    assert len(analyses) == 2
    assert len(engine.compiler._schema_cache) == 2


def _adhoc(rng, k):
    """The six shapes of perfbench's remote_adhoc workload, with fresh
    predicate literals on every call."""
    if k == 0:
        return ("SELECT o_orderpriority, COUNT(*) AS n, "
                "SUM(o_totalprice) AS total FROM orders "
                f"WHERE o_orderstatus = '{rng.choice('FOP')}' "
                f"AND o_totalprice > {rng.uniform(1e3, 4.5e5):.2f} "
                "GROUP BY o_orderpriority")
    if k == 1:
        return ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
                f"FROM customer WHERE c_custkey = {rng.randrange(1, 150)}")
    if k == 2:
        seg = rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"])
        return ("SELECT n.n_name, COUNT(*) AS n, SUM(c.c_acctbal) AS bal "
                "FROM customer c JOIN nation n "
                "ON c.c_nationkey = n.n_nationkey "
                f"WHERE c.c_mktsegment = '{seg}' "
                f"AND c.c_acctbal > {rng.uniform(-900, 9000):.2f} "
                "GROUP BY n.n_name")
    if k == 3:
        lo = date(1992, 1, 1) + timedelta(days=rng.randrange(2000))
        hi = lo + timedelta(days=rng.randint(7, 400))
        return ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, "
                "MAX(o_totalprice) AS top FROM orders "
                f"WHERE o_orderdate >= DATE '{lo}' "
                f"AND o_orderdate < DATE '{hi}'")
    if k == 4:
        return ("SELECT n.n_regionkey, COUNT(*) AS n, "
                "AVG(s.s_acctbal) AS bal FROM supplier s JOIN nation n "
                "ON s.s_nationkey = n.n_nationkey "
                f"WHERE s.s_acctbal > {rng.uniform(-900, 9000):.2f} "
                "GROUP BY n.n_regionkey")
    return ("SELECT p_brand, COUNT(*) AS n, "
            "AVG(p_retailprice) AS price FROM part "
            f"WHERE p_size <= {rng.randint(5, 50)} "
            f"AND p_retailprice > {rng.uniform(900, 1500):.2f} "
            "GROUP BY p_brand")


def test_fresh_literal_run_keeps_one_entry_per_shape(
        engine, oracle, analyses):
    rng = random.Random(7)
    sqls = [_adhoc(rng, i % 6) for i in range(48)]
    assert len(set(sqls)) == 48, "every query text is fresh"
    for sql in sqls:
        _check(engine, oracle, sql)
    assert len(engine.compiler._schema_cache) == 6
    assert len(analyses) == 6


def test_matching_result_is_not_cast(engine, oracle, casts):
    df = _check(engine, oracle, "SELECT c_custkey, c_name, c_acctbal "
                "FROM customer WHERE c_custkey < 10")
    assert casts == []
    assert [f.name for f in df.schema.fields] \
        == ["c_custkey", "c_name", "c_acctbal"]


def test_hugeint_sum_is_cast_to_bigint(engine, oracle, casts):
    from pyspark.sql import types as T
    df = _check(engine, oracle, "SELECT c_nationkey, SUM(c_custkey) AS s "
                "FROM customer WHERE c_custkey > 0 GROUP BY c_nationkey")
    assert len(casts) == 1
    assert isinstance(df.schema["s"].dataType, T.LongType)


def test_zero_row_result_is_not_cast(engine, oracle, casts):
    from pyspark.sql import types as T
    df = _check(engine, oracle, "SELECT c_custkey, c_acctbal FROM customer "
                "WHERE c_custkey < 0")
    assert casts == []
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        ("c_custkey", T.LongType()), ("c_acctbal", T.DoubleType())]


def test_unaliased_expression_is_renamed(spark, engine, oracle, casts):
    """DuckDB names ``coalesce(c_name, 'x')`` differently from Spark; the
    cast renames the column to Spark's name."""
    sql = "SELECT coalesce(c_name, 'x') FROM customer WHERE c_custkey < 10"
    df = _check(engine, oracle, sql)
    assert len(casts) == 1
    duck = oracle.execute(sql).description[0][0]
    spark_name = _spark_types(spark, sql)[0][0]
    assert duck != spark_name
    assert df.columns == [spark_name]


def test_bnl_verdict_memo_is_a_bounded_lru(spark):
    """Each distinct structural key caches its verdict; past CACHE_MAX
    the least recently used goes, and the newest stays."""
    from datafusion_federation_spark.compiler import Compiler

    class _Large:
        """Stands in for an inner side above the gate: probes refuse."""

        def limit(self, n):
            return self

        def count(self):
            return 10 ** 9

    comp = Compiler(spark)
    keys = [Lit(i) for i in range(CACHE_MAX + 1)]
    for k in keys:
        with pytest.raises(NotImplementedError):
            comp._theta_bnl_gate(_Large(), "probe", key_node=k)
    assert comp._bnl_probe_count == CACHE_MAX + 1
    assert len(comp._bnl_gate_cache) == CACHE_MAX
    gate = comp.theta_bnl_rows
    assert comp._bnl_gate_cache.get((gate, repr(keys[-1]))) is False
    assert (gate, repr(keys[0])) not in comp._bnl_gate_cache
    with pytest.raises(NotImplementedError):
        comp._theta_bnl_gate(_Large(), "probe", key_node=keys[-1])
    assert comp._bnl_probe_count == CACHE_MAX + 1, "newest still cached"
