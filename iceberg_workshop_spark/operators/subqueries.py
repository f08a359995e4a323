"""Subquery surface: correlated EXISTS / IN, correlated scalar
subqueries, recursive CTEs, and LATERAL joins.

The reference's dialect (HiveQL/Impala, `/root/reference/README.md`)
exposes plain SELECT blocks; modern warehouse workloads on the same
star schema lean on subquery forms, so this module closes that
surface. All four run through ``spark.sql`` — Catalyst *decorrelates*
each form into joins (EXISTS → left-semi, NOT EXISTS → left-anti,
correlated scalar → aggregate-then-join, LATERAL top-k → window/join),
so at 100 TB these execute as ordinary shuffled/broadcast joins, not
nested per-row re-executions.

Hash-stability: all comparisons against per-group averages are done in
exact DECIMAL arithmetic (``price * cnt > total`` instead of
``price > total/cnt``) so no float rounding can flip a borderline row
between engines (SURVEY.md §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load


_SUBQUERY_EXISTS_IN = """
    SELECT 'in_region1' AS cls, COUNT(*) AS n FROM {customer} c
    WHERE c.c_nationkey IN
          (SELECT n_nationkey FROM {nation} WHERE n_regionkey = 1)
    UNION ALL
    SELECT 'no_orders' AS cls, COUNT(*) AS n FROM {customer} c
    WHERE NOT EXISTS
          (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'with_urgent' AS cls, COUNT(*) AS n FROM {customer} c
    WHERE EXISTS
          (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT')
    ORDER BY cls
    """


@register("q_subquery_exists_in", oracle=_SUBQUERY_EXISTS_IN.format(**FIXTURE_VIEWS))
def q_subquery_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS / IN — the MERGE matched/not-matched halves
    of `sql/update_iceberg_v2_examples.sql:14-18` as standalone
    predicates. Catalyst decorrelates to LeftSemi / LeftAnti hash
    joins on `custkey`; at scale these shuffle once on the join key
    and never materialize the subquery per outer row."""
    return fixture_sql(spark, sf_dir, _SUBQUERY_EXISTS_IN)


_SUBQUERY_SCALAR = """
    SELECT o1.o_orderstatus,
           COUNT(*) AS n_above,
           CAST(SUM(CAST(o1.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_above
    FROM {orders} o1
    WHERE CAST(o1.o_totalprice AS DECIMAL(18,2)) *
          (SELECT COUNT(*) FROM {orders} o2
           WHERE o2.o_orderstatus = o1.o_orderstatus)
          >
          (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2))) FROM {orders} o3
           WHERE o3.o_orderstatus = o1.o_orderstatus)
    GROUP BY o1.o_orderstatus
    ORDER BY o1.o_orderstatus
    """


@register("q_subquery_scalar", oracle=_SUBQUERY_SCALAR.format(**FIXTURE_VIEWS))
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their status-group average, via two correlated
    scalar subqueries. ``price > avg`` is rewritten as the exact
    integer-decimal inequality ``price * cnt > total`` so no float
    division can flip a borderline row between engines. Catalyst
    decorrelates both subqueries into ONE aggregate over orders
    joined back — the plan is scan → partial agg → join, not a
    per-row re-scan."""
    return fixture_sql(spark, sf_dir, _SUBQUERY_SCALAR)


_CTE_RECURSIVE = """
    WITH RECURSIVE months(m) AS (
      SELECT 1
      UNION ALL
      SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT m.m AS month_num,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                AS DOUBLE) AS revenue
    FROM months m
    LEFT JOIN {orders} o
      ON month(o.o_orderdate) = m.m AND year(o.o_orderdate) = 1995
    GROUP BY m.m
    ORDER BY m.m
    """


@register("q_cte_recursive", oracle=_CTE_RECURSIVE.format(**FIXTURE_VIEWS))
def q_cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 `WITH RECURSIVE`) generating a month
    spine, left-joined to 1995 orders — the gap-filling time-series
    pattern (months with zero orders still appear). The recursion is
    driver-tiny (12 rows); the expensive side stays one distributed
    scan+agg of orders, broadcast-joined to the spine."""
    return fixture_sql(spark, sf_dir, _CTE_RECURSIVE)


_JOIN_LATERAL = """
    SELECT c.c_custkey, t.o_orderkey, t.price
    FROM {customer} c,
    LATERAL (
      SELECT o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM {orders} o WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY c.c_custkey, t.o_orderkey
    """


@register("q_join_lateral", oracle=_JOIN_LATERAL.format(**FIXTURE_VIEWS))
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated top-2 orders per BUILDING customer.
    Catalyst rewrites the correlated ORDER BY+LIMIT into a
    partitioned window rank over one shuffled join — per-group top-k
    without a per-customer re-scan, so the plan scales with one
    shuffle of orders regardless of customer count."""
    return fixture_sql(spark, sf_dir, _JOIN_LATERAL)


@register(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL operator-pipe syntax (Spark 4's |> chaining, after
    GoogleSQL's pipe proposal): filter → aggregate → order written as
    a linear pipeline instead of inside-out clauses. Pure parser
    sugar — the plan is the identical filtered hash aggregate, which
    the standard-SQL oracle proves."""
    return fixture_sql(
        spark,
        sf_dir,
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "q_sql_lateral_alias",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) * 0.07 AS tax,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             + CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) * 0.07
             AS total_with_tax
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: a select item referencing an alias
    defined earlier IN THE SAME select list (price → tax →
    total_with_tax), shared by Spark 3.4+ and DuckDB — without it this
    chain needs nested subqueries. The float derivations reuse the
    identical double value, so products and sums are bit-equal."""
    return fixture_sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
               price * 0.07 AS tax,
               price + tax AS total_with_tax
        FROM {orders}
        ORDER BY o_orderkey
        """
    )


@register(
    "q_sql_qualify",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn <= 3
    ORDER BY o_orderstatus, rn
    """,
)
def q_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY — the window-predicate clause (SQL:2023 pattern, native
    in DuckDB/BigQuery/Snowflake) that Spark's parser lacks: top-3
    orders per status expressed as ``QUALIFY rn <= 3`` instead of the
    wrap-in-subquery idiom. The string front-end rewrites it to the
    double-wrap form (plans/sqlfront.py::_rewrite_qualify) supporting
    both alias references and raw window expressions in the predicate;
    the oracle is the IDENTICAL statement run through DuckDB's native
    QUALIFY — same text, two parsers, one answer. The rewritten plan
    is the ordinary partitioned window + filter (Catalyst pushes a
    WindowGroupLimit), so nothing is lost vs the hand-written
    subquery."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    sess = IceSqlSession(spark)
    sess.register_view("iws_sq_orders", load(spark, sf_dir, "orders"))
    return sess.sql(
        """
        SELECT o_orderstatus, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM iws_sq_orders
        QUALIFY rn <= 3
        ORDER BY o_orderstatus, rn
        """
    )
