"""TPC-H-adapted h-suite: the 13 classic TPC-H query *shapes* missing
from the q-registry, adapted to the driver's star schema (no partsupp
table, no commit/receipt dates — substitutes keep the plan shape: the
same joins, the same subquery structure, the same aggregation pattern).

Every query runs through the SQL FRONT DOOR (`engine.sql`) over local
parquet registrations, so each one exercises parser -> plan IR ->
federation pass -> compiler end to end, and the oracle is (near-)the
same SQL string on DuckDB. Determinism follows queries.py's contract:
decimal-exact money sums rounded to cents then cast to double; every
LIMIT has a unique tie-break.

Reference parity: these shapes are the reference's own test corpus
(datafusion-federation exercises TPC-H through DataFusion's planner;
src/sql/mod.rs federates whatever subtree the optimizer leaves). The
correlated-scalar shapes (h02/h17/h22) exercise compiler.py
_decorrelate_agg, the decorrelation kernel correlated scalar subqueries
and LATERAL aggregate bodies share; h15 exercises CTE reuse; h21 the
multi-EXISTS decorrelation; h13 the outer-join aggregate.
"""

from __future__ import annotations

from .queries import DEC, q

M_EP = f"CAST(ep AS {DEC})"
M_DISC = f"CAST(disc AS {DEC})"
REV = f"{M_EP} * (1 - {M_DISC})"


def _money(e: str) -> str:
    return f"CAST(ROUND(SUM({e}), 2) AS DOUBLE)"


def _local_engine(spark, sf, tables):
    from . import FederationEngine
    eng = FederationEngine(spark)
    for t in tables:
        eng.register_local_parquet(t, f"{sf}/{t}.parquet")
    return eng


_H02_SQL = """
SELECT s.s_suppkey, s.s_name, n.n_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                     WHERE s2.s_nationkey = s.s_nationkey)
ORDER BY s.s_suppkey
"""


@q("h02_min_cost_supplier", _H02_SQL)
def h02(spark, sf):
    """TPC-H Q2 shape: correlated scalar MAX selecting each nation's best
    supplier, joined through nation->region with a region filter. The
    correlated aggregate decorrelates to groupBy(s_nationkey).max +
    key join (one shuffle of supplier, broadcast-size dims)."""
    eng = _local_engine(spark, sf, ["supplier", "nation", "region"])
    return eng.sql(_H02_SQL)


_H04_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@q("h04_priority_check", _H04_SQL)
def h04(spark, sf):
    """TPC-H Q4: correlated EXISTS with a non-equi correlated conjunct
    (l_shipdate > o_orderdate) — hoists into the semi-join condition;
    the date filter prunes orders before the join."""
    eng = _local_engine(spark, sf, ["orders", "lineitem"])
    return eng.sql(_H04_SQL)


_H07_SQL = f"""
SELECT supp_nation, cust_nation,
       CAST(EXTRACT(YEAR FROM ship) AS INT) AS l_year,
       {_money(REV)} AS revenue
FROM (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             l.l_shipdate AS ship, l.l_extendedprice AS ep,
             l.l_discount AS disc
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_19')
         OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_3')) shipping
GROUP BY supp_nation, cust_nation, CAST(EXTRACT(YEAR FROM ship) AS INT)
ORDER BY supp_nation, cust_nation, l_year
"""


@q("h07_volume_shipping", _H07_SQL)
def h07(spark, sf):
    """TPC-H Q7: 6-table snowflake with a nation-pair disjunction,
    grouped by both nations and ship year. nation joins twice under
    different roles (broadcast both); lineitem-orders is the only big
    shuffle."""
    eng = _local_engine(
        spark, sf, ["lineitem", "supplier", "nation", "orders", "customer"])
    return eng.sql(_H07_SQL)


_H08_SQL = f"""
SELECT o_year,
       {_money(f"{REV} * nat_flag")} / {_money(REV)} AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice AS ep, l.l_discount AS disc,
             CASE WHEN sn.n_name = 'NATION_3' THEN 1 ELSE 0 END AS nat_flag
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND p_exists(l.l_partkey)) all_nations
GROUP BY o_year
ORDER BY o_year
"""
# p_exists is a placeholder — replaced below with a PROMO-part semi filter
_H08_SQL = _H08_SQL.replace(
    "p_exists(l.l_partkey)",
    "l.l_partkey IN (SELECT p.p_partkey FROM part p "
    "WHERE p.p_type = 'PROMO')")


@q("h08_market_share", _H08_SQL)
def h08(spark, sf):
    """TPC-H Q8: national market share — the share of ASIA-region PROMO
    revenue supplied by NATION_3 per order year. The CASE rides the
    decimal revenue product (rev * 0/1 flag keeps the sum exact); both
    money sums round to cents before the double division, so the share
    is bit-deterministic."""
    eng = _local_engine(
        spark, sf,
        ["lineitem", "supplier", "nation", "orders", "customer",
         "region", "part"])
    return eng.sql(_H08_SQL)


_H09_SQL = f"""
SELECT nation, o_year,
       {_money(f"{REV} - CAST(retail AS {DEC}) * CAST(qty AS {DEC})")}
         AS sum_profit
FROM (SELECT sn.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice AS ep, l.l_discount AS disc,
             l.l_quantity AS qty, p.p_retailprice AS retail
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%red%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@q("h09_product_profit", _H09_SQL)
def h09(spark, sf):
    """TPC-H Q9: profit (revenue minus retail cost of quantity — the
    schema has no ps_supplycost) by supplier nation and order year for
    red-named parts. Decimal-exact: both product terms are DECIMAL
    products summed exactly then rounded once."""
    eng = _local_engine(
        spark, sf, ["lineitem", "part", "supplier", "nation", "orders"])
    return eng.sql(_H09_SQL)


_H11_VALUE = f"CAST(l.l_extendedprice AS {DEC}) * CAST(l.l_quantity AS {DEC})"
_H11_INNER_VALUE = _H11_VALUE.replace("l.", "l2.")
_H11_SQL = f"""
SELECT l.l_partkey,
       CAST(ROUND(SUM({_H11_VALUE}), 2) AS DOUBLE) AS part_value
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_19'
GROUP BY l.l_partkey
HAVING SUM({_H11_VALUE}) >
       (SELECT CAST(SUM({_H11_INNER_VALUE}) AS DOUBLE) * 0.001
        FROM lineitem l2
        JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE n2.n_name = 'NATION_19')
ORDER BY part_value DESC, l.l_partkey
"""


@q("h11_important_stock", _H11_SQL)
def h11(spark, sf):
    """TPC-H Q11: parts whose NATION_19-supplied value exceeds a fraction
    of the nation's total — HAVING against an uncorrelated scalar
    subquery (attached as a broadcast join on the aggregated frame;
    the inner total is one extra scan, shared nothing with the outer
    grouping)."""
    eng = _local_engine(spark, sf, ["lineitem", "supplier", "nation"])
    return eng.sql(_H11_SQL)


_H13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c.c_custkey AS custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@q("h13_customer_distribution", _H13_SQL)
def h13(spark, sf):
    """TPC-H Q13: order-count distribution — LEFT JOIN with a filter in
    the ON clause (null-extended customers count 0 via COUNT(col)),
    then a second aggregation over the counts."""
    eng = _local_engine(spark, sf, ["customer", "orders"])
    return eng.sql(_H13_SQL)


_H15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(CAST(l_extendedprice AS {DEC})
                        * (1 - CAST(l_discount AS {DEC}))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(r2.total_revenue) FROM revenue r2)
ORDER BY s.s_suppkey
"""


@q("h15_top_supplier", _H15_SQL)
def h15(spark, sf):
    """TPC-H Q15: CTE revenue view used twice (join source + MAX scalar
    subquery). The decimal-rounded revenue makes the MAX equality exact
    across engines."""
    eng = _local_engine(spark, sf, ["lineitem", "supplier"])
    return eng.sql(_H15_SQL)


_H16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (SELECT s.s_suppkey FROM supplier s
                          WHERE s.s_acctbal < 0.0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@q("h16_parts_supplier_cnt", _H16_SQL)
def h16(spark, sf):
    """TPC-H Q16: supplier breadth per part attribute with a NOT IN
    exclusion subquery (anti join) and COUNT(DISTINCT) over the
    surviving join."""
    eng = _local_engine(spark, sf, ["lineitem", "part", "supplier"])
    return eng.sql(_H16_SQL)


_H17_SQL = f"""
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS {DEC})), 2) AS DOUBLE)
         / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
"""


@q("h17_small_quantity_revenue", _H17_SQL)
def h17(spark, sf):
    """TPC-H Q17: correlated scalar AVG with arithmetic (0.2 * AVG per
    part) — decorrelates to a per-partkey grouped average joined back
    on l_partkey; one extra shuffle of lineitem on l_partkey, no
    driver-side work."""
    eng = _local_engine(spark, sf, ["lineitem", "part"])
    return eng.sql(_H17_SQL)


_H19_SQL = f"""
SELECT {_money(f"CAST(l.l_extendedprice AS {DEC}) * (1 - CAST(l.l_discount AS {DEC}))")}
         AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@q("h19_disjunctive_join", _H19_SQL)
def h19(spark, sf):
    """TPC-H Q19: OR-of-ANDs spanning both join sides — Catalyst keeps
    the equi-key join and evaluates the disjunction post-join, pushing
    the per-table conjunct residuals (brand/size on part) into the
    scans where derivable."""
    eng = _local_engine(spark, sf, ["lineitem", "part"])
    return eng.sql(_H19_SQL)


_H20_SQL = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN
      (SELECT l.l_suppkey FROM lineitem l
       WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l.l_suppkey
       HAVING SUM(CAST(l.l_quantity AS BIGINT)) >
              (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) / 100
               FROM lineitem l2
               WHERE l2.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'))
  AND s.s_nationkey < 10
ORDER BY s.s_suppkey
"""


@q("h20_potential_promotion", _H20_SQL)
def h20(spark, sf):
    """TPC-H Q20: semi join against a grouped HAVING subquery whose
    threshold is itself a scalar subquery (share-of-total, so the
    predicate is scale-factor-invariant)."""
    eng = _local_engine(spark, sf, ["supplier", "lineitem"])
    return eng.sql(_H20_SQL)


_H21_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@q("h21_waiting_supplier", _H21_SQL)
def h21(spark, sf):
    """TPC-H Q21: the hardest decorrelation in the suite — EXISTS and
    NOT EXISTS against the same table with inequality correlated
    conjuncts (different supplier, shipped later). Both hoist into
    semi/anti join conditions on l_orderkey; lineitem shuffles on
    l_orderkey once per side."""
    eng = _local_engine(spark, sf, ["supplier", "lineitem", "orders"])
    return eng.sql(_H21_SQL)


_H22_SQL = f"""
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS {DEC})), 2) AS DOUBLE)
         AS totacctbal
FROM customer c
WHERE c.c_acctbal >
      (SELECT CAST(SUM(CAST(c2.c_acctbal AS {DEC})) AS DOUBLE) / COUNT(*)
       FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 450000.0)
  AND c.c_nationkey IN (1, 2, 3, 7, 9, 11, 13)
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


@q("h22_global_sales", _H22_SQL)
def h22(spark, sf):
    """TPC-H Q22: three predicate families in one WHERE — an
    uncorrelated scalar average (decimal-exact sum / count so the
    threshold is bit-identical), a correlated NOT EXISTS (anti join),
    and an IN list. Customers with no orders and above-average
    balance, grouped by nation."""
    eng = _local_engine(spark, sf, ["customer", "orders"])
    return eng.sql(_H22_SQL)
