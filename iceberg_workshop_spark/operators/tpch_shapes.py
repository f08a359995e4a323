"""Classic decision-support query shapes (TPC-H Q2/Q8/Q11/Q13/Q14/
Q15/Q17/Q19/Q22) adapted to the fixture star schema.

The reference's workload is the airlines star schema queried with
scan/filter/count blocks (`/root/reference/README.md:214-290`); this
module closes the remaining canonical analytic shapes a warehouse user
of that schema would run — min-per-group decorrelation (Q2),
multi-dim market share (Q8), share-of-total HAVING (Q11),
distribution-of-counts (Q13), conditional-aggregate ratio (Q14),
argmax-by-group via scalar subquery (Q15), correlated average
threshold (Q17), disjunctive multi-predicate join pushdown (Q19), and
anti-join + global threshold (Q22). Q1/Q3/Q5/Q6/Q7/Q18 shapes already
live in aggregates.py / joins.py.

Scale notes (100 TB posture): every shape here is one or two shuffles
of the fact table with dimension joins that Catalyst/AQE broadcasts
(<10 MB dims); correlated predicates are written as exact-decimal
integer inequalities so no float division flips rows between engines
(SURVEY.md §5.3), and every scalar subquery decorrelates to an
aggregate + broadcast join, never a per-row re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql


def _rev(prefix: str = "") -> str:
    """Revenue in exact money arithmetic (§5.3): each factor is cast
    to DECIMAL(18,2) BEFORE the multiply so the product is exact in
    both engines (a double multiply then cast would round differently
    at the last cent). Mirrors exprs.SQL_REVENUE."""
    return (
        f"CAST({prefix}l_extendedprice AS DECIMAL(18,2))"
        f" * (CAST(1 AS DECIMAL(18,2)) - CAST({prefix}l_discount AS DECIMAL(18,2)))"
    )


def _sql(tpl: str) -> str:
    """Oracle SQL (bare fixture view names)."""
    return tpl.format(**FIXTURE_VIEWS)


_Q2 = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, SUM({_rev()}) AS cost
  FROM {{lineitem}} GROUP BY l_partkey, l_suppkey
),
mn AS (SELECT l_partkey, MIN(cost) AS min_cost FROM ps GROUP BY l_partkey)
SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
       CAST(ps.cost AS DOUBLE) AS cost
FROM ps
JOIN mn ON ps.l_partkey = mn.l_partkey AND ps.cost = mn.min_cost
JOIN {{part}} p ON p.p_partkey = ps.l_partkey AND p.p_size <= 10
JOIN {{supplier}} s ON s.s_suppkey = ps.l_suppkey
ORDER BY p.p_partkey, s.s_suppkey
"""


@register("q_join_q2_shape", oracle=_sql(_Q2))
def q_join_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (min-per-group
    decorrelation). One shuffle aggregates lineitem by (part, supp);
    the per-part MIN re-aggregates the *already reduced* pair table
    and joins back on exact DECIMAL equality — ties surface every
    minimal supplier deterministically. part/supplier dims broadcast."""
    return fixture_sql(spark, sf_dir, _Q2)


_Q8 = f"""
WITH rev AS (
  SELECT year(o.o_orderdate) AS yr,
         CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {_rev("l.")}
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
         CAST(SUM({_rev("l.")}) AS DOUBLE) AS total_rev
  FROM {{lineitem}} l
  JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
  JOIN {{customer}} c ON o.o_custkey = c.c_custkey
  JOIN {{nation}} cn ON c.c_nationkey = cn.n_nationkey
  JOIN {{region}} r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
  JOIN {{supplier}} s ON l.l_suppkey = s.s_suppkey
  JOIN {{nation}} sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY year(o.o_orderdate)
)
SELECT yr, nation_rev, total_rev,
       round(nation_rev / total_rev, 4) AS mkt_share
FROM rev ORDER BY yr
"""


@register("q_join_q8_shape", oracle=_sql(_Q8))
def q_join_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' market share inside
    AMERICA-region customer revenue, per order year. Six-table join
    where every dimension chain (customer→nation→region,
    supplier→nation) broadcasts; the only shuffles are fact⋈orders and
    the final tiny per-year aggregate. Share is float division of two
    decimal-exact sums, rounded at 4 (the repo's AVG convention)."""
    return fixture_sql(spark, sf_dir, _Q8)


_Q11 = f"""
WITH nrev AS (
  SELECT sn.n_name AS nation, SUM({_rev("l.")}) AS rev
  FROM {{lineitem}} l
  JOIN {{supplier}} s ON l.l_suppkey = s.s_suppkey
  JOIN {{nation}} sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY sn.n_name
),
tot AS (SELECT SUM(rev) AS total FROM nrev)
SELECT nation, CAST(rev AS DOUBLE) AS supplied_rev
FROM nrev, tot
WHERE rev * 25 > total
ORDER BY supplied_rev DESC, nation
"""


@register("q_agg_q11_shape", oracle=_sql(_Q11))
def q_agg_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: supplier nations whose supplied revenue
    exceeds 1/25 of the total. The share filter is the exact decimal
    inequality ``rev * 25 > total`` — no float division at the
    boundary. The grand total is a scalar subquery over the already
    25-row nation aggregate, so the second pass is free."""
    return fixture_sql(spark, sf_dir, _Q11)


_Q13 = """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM {customer} c
  LEFT JOIN {orders} o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q_agg_q13_shape", oracle=_sql(_Q13))
def q_agg_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of orders-per-customer (counts of
    counts), zero-order customers included via the filtered LEFT JOIN
    (predicate inside the ON clause, not WHERE — semantics differ).
    Two all-integer aggregations; the second groups ~50 distinct
    counts so it collapses to a near-free final shuffle."""
    return fixture_sql(spark, sf_dir, _Q13)


_Q14 = f"""
WITH r AS (
  SELECT year(l.l_shipdate) AS yr,
         CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_rev("l.")}
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
         CAST(SUM({_rev("l.")}) AS DOUBLE) AS total_rev
  FROM {{lineitem}} l
  JOIN {{part}} p ON l.l_partkey = p.p_partkey
  GROUP BY year(l.l_shipdate)
)
SELECT yr, promo_rev, total_rev,
       round(100 * promo_rev / total_rev, 4) AS promo_pct
FROM r ORDER BY yr
"""


@register("q_agg_q14_shape", oracle=_sql(_Q14))
def q_agg_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO-type revenue share per ship year —
    conditional aggregate over a broadcast part join. The ratio is
    computed once per year row from two decimal-exact sums."""
    return fixture_sql(spark, sf_dir, _Q14)


_Q15 = f"""
WITH srev AS (
  SELECT l_suppkey, SUM({_rev()}) AS total_rev
  FROM {{lineitem}}
  WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1995-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(sr.total_rev AS DOUBLE) AS total_rev
FROM {{supplier}} s
JOIN srev sr ON s.s_suppkey = sr.l_suppkey
WHERE sr.total_rev = (SELECT MAX(total_rev) FROM srev)
ORDER BY s.s_suppkey
"""


@register("q_join_q15_shape", oracle=_sql(_Q15))
def q_join_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top-revenue supplier(s) for 1995Q1 — argmax via a
    scalar MAX subquery over the grouped revenue CTE, re-used (not
    recomputed) for the equality filter. Exact DECIMAL equality keeps
    ties deterministic. The quarter predicate reaches the parquet scan
    as a pushed filter before any shuffle."""
    return fixture_sql(spark, sf_dir, _Q15)


_Q17 = """
WITH pq AS (
  SELECT l_partkey, COUNT(*) AS cnt,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum
  FROM {lineitem} GROUP BY l_partkey
)
SELECT COUNT(*) AS n_small,
       CAST(COALESCE(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))),
                     CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS small_rev
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
JOIN pq ON pq.l_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.cnt < pq.qty_sum
"""


@register("q_agg_q17_shape", oracle=_sql(_Q17))
def q_agg_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue sitting in small-quantity Brand#12
    line items (quantity below 20% of the part's average). The
    correlated AVG threshold is decorrelated by hand into one grouped
    CTE and the float comparison ``qty < 0.2 * avg`` becomes the exact
    decimal-integer inequality ``qty * 5 * cnt < qty_sum``."""
    return fixture_sql(spark, sf_dir, _Q17)


_Q19 = f"""
SELECT COUNT(*) AS n_rows,
       CAST(COALESCE(SUM({_rev("l.")}),
                     CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM {{lineitem}} l
JOIN {{part}} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


@register("q_filter_q19_shape", oracle=_sql(_Q19))
def q_filter_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of conjunctive brand/size/quantity
    bands over the join. Catalyst extracts the common-prefix
    predicates per side (brand∈{...}, size≤35, quantity bounds) and
    pushes them below the join into both parquet scans, so the OR does
    not defeat pushdown — the join sees pre-filtered inputs."""
    return fixture_sql(spark, sf_dir, _Q19)


_Q22 = """
WITH avg_bal AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total, COUNT(*) AS cnt
  FROM {customer} WHERE c_acctbal > 0
)
SELECT substring(c.c_name, 16, 3) AS code,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM {customer} c, avg_bal
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * avg_bal.cnt > avg_bal.total
  AND NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= '1999-01-01')
GROUP BY substring(c.c_name, 16, 3)
ORDER BY code
"""


@register("q_agg_q22_shape", oracle=_sql(_Q22))
def q_agg_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers (balance above the
    positive-balance average, exact decimal inequality ``bal * cnt >
    total``) with no order since 1999 (NOT EXISTS → left-anti join on
    the date-filtered orders slice), grouped
    by a name-derived code. The global average is one broadcast scalar;
    the anti join shuffles on custkey exactly once."""
    return fixture_sql(spark, sf_dir, _Q22)


_Q3 = f"""
SELECT l.l_orderkey,
       CAST(SUM({_rev("l.")}) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM {{customer}} c
JOIN {{orders}} o ON c.c_custkey = o.o_custkey
                   AND c.c_mktsegment = 'BUILDING'
JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


@register("q_join_q3_shape", oracle=_sql(_Q3))
def q_join_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 highest-revenue unshipped BUILDING orders.
    Both date predicates push into their scans before the joins; the
    top-k over the grouped result plans as TakeOrderedAndProject, so
    only 10 rows ever reach the driver side of the limit."""
    return fixture_sql(spark, sf_dir, _Q3)


_Q4 = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate <  TIMESTAMP '1995-04-01'
  AND EXISTS (SELECT 1 FROM {lineitem} l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register("q_agg_q4_shape", oracle=_sql(_Q4))
def q_agg_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: priority counts of orders with ≥1 late line (shipped
    more than 90 days after ordering — the commit/receipt-date clause
    adapted to this schema). The correlated EXISTS carries an outer
    column inside the subquery; Catalyst still decorrelates it to one
    left-semi join on orderkey with the date arithmetic as the join
    filter."""
    return fixture_sql(spark, sf_dir, _Q4)


_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue_delta,
       COUNT(*) AS n_lines
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q_agg_q6_shape", oracle=_sql(_Q6))
def q_agg_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the forecast-revenue-change scan — no join at all,
    the whole query is pushed predicates + one scalar decimal
    aggregate. The discount band compares doubles to the same parsed
    literals in both engines (0.05/0.07 parse to identical float64),
    and the money product is decimal-exact per factor."""
    return fixture_sql(spark, sf_dir, _Q6)


_Q9 = f"""
SELECT sn.n_name AS nation, year(o.o_orderdate) AS yr,
       CAST(SUM({_rev("l.")}
                - CAST(l.l_quantity AS DECIMAL(18,2))
                  * CAST(10 AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM {{lineitem}} l
JOIN {{part}} p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%gear%'
JOIN {{supplier}} s ON s.s_suppkey = l.l_suppkey
JOIN {{nation}} sn ON sn.n_nationkey = s.s_nationkey
JOIN {{orders}} o ON o.o_orderkey = l.l_orderkey
GROUP BY sn.n_name, year(o.o_orderdate)
ORDER BY nation, yr
"""


@register("q_agg_q9_shape", oracle=_sql(_Q9))
def q_agg_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and
    year (supply cost stands in as 10/unit — the fixture has no
    partsupp). The part-name LIKE prunes the fact rows through the
    broadcast part join before any wide aggregation; profit stays in
    exact decimal until the final cast."""
    return fixture_sql(spark, sf_dir, _Q9)


_Q10 = f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM({_rev("l.")}) AS DOUBLE) AS lost_revenue
FROM {{customer}} c
JOIN {{orders}} o ON o.o_custkey = c.c_custkey
  AND o.o_orderdate >= TIMESTAMP '1995-10-01'
  AND o.o_orderdate <  TIMESTAMP '1996-01-01'
JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
JOIN {{nation}} n ON n.n_nationkey = c.c_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q_join_q10_shape", oracle=_sql(_Q10))
def q_join_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items
    in one quarter. Return-flag and date predicates prune both fact
    inputs at the scan; the customer/nation dims broadcast; top-k is
    TakeOrderedAndProject with the custkey tiebreak."""
    return fixture_sql(spark, sf_dir, _Q10)


_Q12 = """
SELECT l.l_linestatus AS mode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders} o
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
ORDER BY mode
"""


@register("q_agg_q12_shape", oracle=_sql(_Q12))
def q_agg_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of slow shipments per line
    status (shipmode adapted to the schema). The join-dependent date
    comparison stays as a join filter; the two conditional counts are
    one pass over the joined rows."""
    return fixture_sql(spark, sf_dir, _Q12)


_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM {supplier}
                          WHERE s_name LIKE '%7')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("q_agg_q16_shape", oracle=_sql(_Q16))
def q_agg_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier counts per part (brand, type,
    size) with a NOT IN exclusion subquery. NOT IN over a non-null
    key column plans as a broadcast null-aware anti join; the
    COUNT(DISTINCT) expands to the standard two-phase aggregate."""
    return fixture_sql(spark, sf_dir, _Q16)


_Q20 = """
SELECT s.s_name
FROM {supplier} s
JOIN {nation} n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM {lineitem} l
  JOIN {part} p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%'
  WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
    AND l.l_shipdate <  TIMESTAMP '1996-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
)
ORDER BY s.s_name
"""


@register("q_join_q20_shape", oracle=_sql(_Q20))
def q_join_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: region-1 suppliers who moved >50 units of any
    red part in 1995 — an IN over a grouped+HAVING subquery (the
    excess-stock pattern). The subquery reduces to (supp, part)
    totals before the semi join, so the outer side joins against an
    already-aggregated relation."""
    return fixture_sql(spark, sf_dir, _Q20)


_Q21 = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey, o.o_orderstatus,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
              THEN 1 ELSE 0 END AS late
  FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM lo l1
JOIN {supplier} s ON s.s_suppkey = l1.l_suppkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey AND n.n_regionkey = 2
WHERE l1.o_orderstatus = 'F' AND l1.late = 1
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late = 1)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
"""


@register("q_join_q21_shape", oracle=_sql(_Q21))
def q_join_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: region-2 suppliers who were the SOLE late supplier
    on a finalized multi-supplier order — the EXISTS + NOT EXISTS
    pair over the same derived relation. Lateness is precomputed once
    in an integer flag CTE so both correlated subqueries decorrelate
    to semi/anti joins on orderkey with no date math inside."""
    return fixture_sql(spark, sf_dir, _Q21)
