"""Round-8 exact-lowering graduations (VERDICT r7 "What's missing" #1):
FETCH FIRST n ROWS WITH TIES, lag/lead IGNORE NULLS with offset > 1,
SUM/AVG DISTINCT window aggregates, MIN/MAX under frame EXCLUDE.
Each pinned value-for-value against DuckDB on NULL-heavy, tie-heavy
synthetic frames (sharper than the orders-table oracle rows q104-q107)."""

from __future__ import annotations

import duckdb
import pytest

from datafusion_federation_spark.sqlfront import SqlParseError
from tests.conftest import TESTDATA


def _engine(spark, df_by_name):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    for name, df in df_by_name.items():
        eng.register_local_df(name, df)
    return eng


@pytest.fixture(scope="module")
def frame(spark):
    # ties in g (peer groups), NULLs in x, small partitions
    rows = [(i, i % 3, i % 4, None if i % 4 == 0 else float(i * 10))
            for i in range(40)]
    df = spark.createDataFrame(rows, "k INT, p INT, g INT, x DOUBLE")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k INT, p INT, g INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    return df, con


def _both(eng, con, spark_sql, duck_sql=None):
    got = sorted(map(tuple, eng.sql(spark_sql).collect()))
    want = sorted(map(tuple, con.execute(duck_sql or spark_sql).fetchall()))
    assert got == want, f"\ngot:  {got[:6]}...\nwant: {want[:6]}..."


# ---------------------------------------------------------------------------
# FETCH FIRST ... WITH TIES
# ---------------------------------------------------------------------------

def test_with_ties_basic(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, g FROM t ORDER BY g FETCH FIRST 5 ROWS WITH TIES",
          "SELECT k, g FROM (SELECT k, g, RANK() OVER (ORDER BY g) r "
          "FROM t) b WHERE r <= 5")


def test_with_ties_offset(spark, frame):
    # Postgres 13: OFFSET applies after tie expansion at boundary m+n
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, g FROM t ORDER BY g, k "
          "OFFSET 3 ROWS FETCH FIRST 4 ROWS WITH TIES",
          "SELECT k, g FROM (SELECT k, g, RANK() OVER (ORDER BY g, k) r "
          "FROM t) b WHERE r <= 7 OFFSET 3")


def test_with_ties_desc_nulls(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    # x has NULLs; DESC => Spark default NULLS LAST, match explicitly
    _both(eng, con,
          "SELECT k, x FROM t ORDER BY x DESC NULLS LAST "
          "FETCH FIRST 6 ROWS WITH TIES",
          "SELECT k, x FROM (SELECT k, x, RANK() OVER "
          "(ORDER BY x DESC NULLS LAST) r FROM t) b WHERE r <= 6")


def test_with_ties_exceeds_rowcount(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    rows = eng.sql("SELECT k FROM t ORDER BY g "
                   "FETCH FIRST 500 ROWS WITH TIES").collect()
    assert len(rows) == 40


def test_with_ties_requires_order_by(spark, frame):
    df, _con = frame
    eng = _engine(spark, {"t": df})
    with pytest.raises((SqlParseError, Exception), match="TIES"):
        eng.sql_plan("SELECT k FROM t FETCH FIRST 5 ROWS WITH TIES")


def test_with_ties_unparse_postgres_only():
    from datafusion_federation_spark.dialects import UnsupportedUnparse
    from datafusion_federation_spark.expressions import SortKey, col
    from datafusion_federation_spark.plans.nodes import Limit, Project, Sort
    from datafusion_federation_spark.unparser import Unparser
    from tests.test_unparser_goldens import h
    from datafusion_federation_spark.plans.nodes import Scan
    p = Limit(Sort(Project(Scan(h("t")), [col("a")]),
                   [SortKey(col("a"))]), fetch=5, with_ties=True)
    s = Unparser("postgres").plan_to_sql(p)
    assert "FETCH FIRST 5 ROWS WITH TIES" in s
    for d in ("duckdb", "sqlite", "mysql", "derby", "spark"):
        with pytest.raises(UnsupportedUnparse):
            Unparser(d).plan_to_sql(p)


# ---------------------------------------------------------------------------
# lag/lead IGNORE NULLS, offset > 1 / default
# ---------------------------------------------------------------------------

def test_lag_ignore_nulls_offset2(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, lag(x, 2 IGNORE NULLS) "
          "OVER (PARTITION BY p ORDER BY k) AS l2 FROM t")


def test_lead_ignore_nulls_offset3_default(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, lead(x, 3, -1.0 IGNORE NULLS) "
          "OVER (PARTITION BY p ORDER BY k) AS l3 FROM t")


def test_lag_ignore_nulls_offset1_default(spark, frame):
    # 3-arg offset-1 used to be refused too (the exact-offset-1 rewrite
    # had no default slot) — now the collect path covers it
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, lag(x, 1, -5.0 IGNORE NULLS) "
          "OVER (PARTITION BY p ORDER BY k) AS l1 FROM t")


# ---------------------------------------------------------------------------
# SUM / AVG DISTINCT window aggregates
# ---------------------------------------------------------------------------

def test_sum_distinct_window_running(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, CAST(SUM(DISTINCT g) OVER "
          "(PARTITION BY p ORDER BY k) AS BIGINT) AS sd FROM t")


def test_sum_distinct_window_skips_nulls(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, SUM(DISTINCT x) OVER (PARTITION BY p) AS sd FROM t")


def test_avg_distinct_window(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, AVG(DISTINCT g) OVER "
          "(PARTITION BY p ORDER BY k) AS ad FROM t")


def test_min_max_distinct_window_collapse(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(DISTINCT x) OVER (PARTITION BY p) AS mn, "
          "MAX(DISTINCT x) OVER (PARTITION BY p) AS mx FROM t")


# ---------------------------------------------------------------------------
# MIN/MAX under frame EXCLUDE
# ---------------------------------------------------------------------------

def test_min_exclude_current_row(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(x) OVER (PARTITION BY p ORDER BY k "
          "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING "
          "EXCLUDE CURRENT ROW) AS mn FROM t")


def test_max_exclude_group_with_ties(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MAX(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING "
          "EXCLUDE GROUP) AS mx FROM t")


def test_min_exclude_ties_moving_range(spark, frame):
    # a MOVING RANGE frame + EXCLUDE TIES: impossible for the
    # arithmetic path, natural for the collect path
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING "
          "EXCLUDE TIES) AS mn FROM t")


def test_min_exclude_group_running_range(spark, frame):
    # RANGE UP..CURRENT ROW + EXCLUDE GROUP: the r14 one-sided
    # ordinal-split path (strictly-before peer groups only)
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW "
          "EXCLUDE GROUP) AS mn FROM t")


def test_max_exclude_ties_forward_range(spark, frame):
    # RANGE CURRENT ROW..UNBOUNDED FOLLOWING + EXCLUDE TIES: the other
    # one-sided ordinal split, recombined with the row's own value
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MAX(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING "
          "EXCLUDE TIES) AS mx FROM t")


def test_min_exclude_ties_whole_partition(spark, frame):
    # ROWS UP..UF + EXCLUDE TIES == whole partition minus other peers
    # plus self (the q107 mt shape)
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(x) OVER (PARTITION BY p ORDER BY g "
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING "
          "EXCLUDE TIES) AS mn FROM t")


def test_max_exclude_current_running_rows(spark, frame):
    # ROWS UP..CURRENT ROW + EXCLUDE CURRENT ROW: one-sided rows split
    # (unique order key so the frame is tie-deterministic)
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MAX(x) OVER (PARTITION BY p ORDER BY k "
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW "
          "EXCLUDE CURRENT ROW) AS mx FROM t")


def test_group_only_frame_exclusions(spark, frame):
    # RANGE CURRENT ROW..CURRENT ROW is exactly the peer group:
    # EXCLUDE GROUP empties every frame (NULL), EXCLUDE TIES leaves
    # only the row itself
    df, con = frame
    eng = _engine(spark, {"t": df})
    _both(eng, con,
          "SELECT k, MIN(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN CURRENT ROW AND CURRENT ROW "
          "EXCLUDE GROUP) AS mn, "
          "MAX(x) OVER (PARTITION BY p ORDER BY g "
          "RANGE BETWEEN CURRENT ROW AND CURRENT ROW "
          "EXCLUDE TIES) AS mt FROM t")


def test_minmax_exclude_unbounded_plan_has_no_collect(spark):
    # the r13 verdict's named scale-killer: whole-partition EXCLUDE
    # frames must NOT materialize the partition per row — the split
    # lowering keeps O(1) state (r14)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    df = eng.sql(
        "SELECT MAX(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate RANGE BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mx, "
        "MIN(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING EXCLUDE TIES) AS mt FROM orders")
    plan = _plan(df)
    assert "collect_list" not in plan, \
        "whole-partition EXCLUDE must use the split lowering"
    assert plan.count("Exchange") == 1, \
        "helper ordinal and split windows must share the partitioning"


def test_max_exclude_current_all_excluded_is_null(spark):
    # single-row partitions: EXCLUDE CURRENT ROW empties every frame
    rows = [(1, 1.0), (2, 2.0)]
    df = spark.createDataFrame(rows, "k INT, x DOUBLE")
    eng = _engine(spark, {"t": df})
    got = eng.sql("SELECT k, MAX(x) OVER (PARTITION BY k ORDER BY k "
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
                  "FOLLOWING EXCLUDE CURRENT ROW) AS mx FROM t").collect()
    assert all(r.mx is None for r in got)


# ---------------------------------------------------------------------------
# plan pins: the 100 TB posture of the new lowerings
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_with_ties_plan_has_no_window_and_pushes_boundary(spark):
    # the scale-first design: a LIMIT-n probe then a DISTRIBUTED filter
    # that reaches the parquet scan — NOT a no-partition global rank
    # window (which would funnel every row through one task)
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    df = eng.sql("SELECT o_orderkey, o_orderdate FROM orders "
                 "ORDER BY o_orderdate FETCH FIRST 20 ROWS WITH TIES")
    plan = _plan(df)
    assert "Window" not in plan, "global rank window defeats the design"
    assert "PushedFilters: [Or" in plan, \
        "boundary filter must reach the scan"


def test_minmax_exclude_plan_stays_jvm_side(spark):
    # a value-offset RANGE frame with EXCLUDE GROUP still takes the
    # collect/filter/array_min fallback: Catalyst lambdas — no Python
    # evaluation anywhere; the rn helper and the frame collect share
    # one partitioning
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    df = eng.sql(
        "SELECT MIN(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey RANGE BETWEEN 1 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE GROUP) AS mn FROM orders")
    assert "array_min" in _plan(df)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") == 1, \
        "rn helper and frame collect must share the window partitioning"


def test_sum_distinct_window_plan_stays_jvm_side(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_parquet("orders", f"{TESTDATA}/orders.parquet")
    df = eng.sql(
        "SELECT SUM(DISTINCT o_orderkey % 7) OVER "
        "(PARTITION BY o_custkey) AS sd FROM orders")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------------------
# empty-input edges
# ---------------------------------------------------------------------------

def test_with_ties_empty_input(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("e", spark.createDataFrame([], "k INT, g INT"))
    rows = eng.sql("SELECT k FROM e ORDER BY g "
                   "FETCH FIRST 3 ROWS WITH TIES").collect()
    assert rows == []


def test_cycle_empty_base(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("e", spark.createDataFrame([], "k BIGINT"))
    rows = eng.sql("""
WITH RECURSIVE w(n) AS (
  SELECT k FROM e UNION ALL SELECT (n + 1) % 5 FROM w
) CYCLE n SET ic USING p
SELECT n FROM w""").collect()
    assert rows == []


def test_lambda_null_array(spark):
    from datafusion_federation_spark.engine import FederationEngine
    eng = FederationEngine(spark)
    eng.register_local_df("t", spark.createDataFrame(
        [(1, None)], "k INT, a ARRAY<DOUBLE>"))
    rows = eng.sql("SELECT k, transform(a, x -> x * 2) AS t2, "
                   "size(filter(a, x -> x > 0)) AS n FROM t").collect()
    assert rows[0].t2 is None and rows[0].n is None


def test_with_ties_fetch_zero(spark, frame):
    """ADVICE r9: FETCH FIRST 0 ROWS WITH TIES must return ZERO rows —
    before the fix the empty probe skipped the boundary filter and the
    query returned the whole table."""
    df, con = frame
    eng = _engine(spark, {"t": df})
    got = eng.sql("SELECT k, g FROM t ORDER BY g "
                  "FETCH FIRST 0 ROWS WITH TIES").collect()
    assert got == []


def test_with_ties_fetch_zero_with_offset(spark, frame):
    df, con = frame
    eng = _engine(spark, {"t": df})
    got = eng.sql("SELECT k, g FROM t ORDER BY g, k OFFSET 3 ROWS "
                  "FETCH FIRST 0 ROWS WITH TIES").collect()
    assert got == []


def test_sum_distinct_window_decimal(spark):
    """ADVICE r9: SUM(DISTINCT <decimal>) OVER previously raised an
    AnalysisException — Spark widens acc+v past the fold seed's
    precision and ArrayAggregate requires merge type == seed type.
    The compiler now probes the dtype and pins the accumulator."""
    from decimal import Decimal

    rows = [(i, i % 2, Decimal(str((i % 5) * 7 + 0.25)))
            for i in range(20)]
    df = spark.createDataFrame(rows, "k INT, p INT, d DECIMAL(12,2)")
    eng = _engine(spark, {"t": df})
    got = eng.sql(
        "SELECT k, SUM(DISTINCT d) OVER (PARTITION BY p ORDER BY k "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sd "
        "FROM t ORDER BY k").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k INT, p INT, d DECIMAL(12,2))")
    con.executemany("INSERT INTO t VALUES (?,?,?)",
                    [(k, p, float(d)) for k, p, d in rows])
    want = con.execute(
        "SELECT k, SUM(DISTINCT d) OVER (PARTITION BY p ORDER BY k "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sd "
        "FROM t ORDER BY k").fetchall()
    assert [(r.k, float(r.sd)) for r in got] == \
           [(k, float(v)) for k, v in want]
    # result type mirrors Spark's native SUM(decimal(12,2)): (22,2)
    sd_type = [f.dataType.simpleString() for f in
               eng.sql("SELECT SUM(DISTINCT d) OVER (ORDER BY k) AS sd "
                       "FROM t").schema.fields]
    assert sd_type == ["decimal(22,2)"]


def test_avg_distinct_window_decimal_high_scale(spark):
    """Scale > 6 would shrink under Spark's precision-loss adjustment
    if the merge result were left uncast — pin the s=8 path too."""
    from decimal import Decimal

    rows = [(i, Decimal(str((i % 4) + 1)) / Decimal("3"))
            for i in range(12)]
    df = spark.createDataFrame(rows, "k INT, d DECIMAL(20,8)")
    eng = _engine(spark, {"t": df})
    got = eng.sql(
        "SELECT k, AVG(DISTINCT d) OVER (ORDER BY k "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad "
        "FROM t ORDER BY k").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k INT, d DECIMAL(20,8))")
    con.executemany("INSERT INTO t VALUES (?,?)",
                    [(k, float(d)) for k, d in rows])
    want = con.execute(
        "SELECT k, AVG(DISTINCT d) OVER (ORDER BY k "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad "
        "FROM t ORDER BY k").fetchall()
    for (gk, gv), (wk, wv) in zip([(r.k, float(r.ad)) for r in got],
                                  [(k, float(v)) for k, v in want]):
        assert gk == wk and abs(gv - wv) < 1e-9
