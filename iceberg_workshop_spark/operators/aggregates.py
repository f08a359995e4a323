"""Aggregation operators.

The reference's signature aggregate is the scalar ``count(*)`` with a
predicate (``/root/reference/README.md:214-224,241-244,274-277``); the
rest is the standard OLAP closure: grouped aggs (TPC-H Q1 shape),
DISTINCT aggs, ROLLUP/CUBE/GROUPING SETS, HAVING, and sketches.

Scale notes: Spark's HashAggregate already does partial (map-side)
aggregation before the shuffle — the shuffle carries one row per
(group × partition), not per input row. DISTINCT aggs expand to a
two-phase plan automatically. approx_count_distinct is the 100 TB
path for cardinality (HLL++, constant memory per group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_workshop_spark.exprs import SQL_REVENUE, money, revenue_expr
from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fan_out, fixture_sql, load


@register(
    "q_agg_scalar_count",
    oracle="""
    SELECT COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    """,
)
def q_agg_scalar_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar count(*) with predicate (A17) — the reference's signature
    query, e.g. ``/root/reference/README.md:214-216``."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_agg_groupby",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash aggregate over two group keys.

    Money sums are decimal-exact then cast to double; the average is a
    double division of that exact sum by the count — bit-identical in
    any summation order, so safe for the driver's value-hash.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    sum_qty = F.sum(money("l_quantity"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(revenue_expr()).cast("double").alias("sum_disc_price"),
            (sum_qty.cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — Spark plans the expand + two-phase
    aggregate automatically."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_agg_rollup_cube_gsets",
    oracle="""
    WITH rn AS (
      SELECT r_name, n_name
      FROM region JOIN nation ON n_regionkey = r_regionkey
    )
    SELECT 'rollup' AS mode, COALESCE(r_name, '(all)') AS r_name,
           COALESCE(n_name, '(all)') AS n_name,
           GROUPING(r_name, n_name) AS gid, COUNT(*) AS n
    FROM rn GROUP BY ROLLUP (r_name, n_name)
    UNION ALL
    SELECT 'cube' AS mode, COALESCE(r_name, '(all)'),
           COALESCE(n_name, '(all)'),
           GROUPING(r_name, n_name), COUNT(*)
    FROM rn GROUP BY CUBE (r_name, n_name)
    UNION ALL
    SELECT 'gsets' AS mode, COALESCE(r_name, '(all)'),
           COALESCE(n_name, '(all)'),
           GROUPING(r_name, n_name), COUNT(*)
    FROM rn GROUP BY GROUPING SETS ((r_name), (n_name))
    ORDER BY mode, r_name, n_name, gid
    """,
)
def q_agg_rollup_cube_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS with grouping_id, one tagged union."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    rn = region.join(nation, nation.n_regionkey == region.r_regionkey).select(
        "r_name", "n_name"
    )

    def block(mode: str, clause: str) -> DataFrame:
        return spark.sql(
            f"""
            SELECT '{mode}' AS mode,
                   COALESCE(r_name, '(all)') AS r_name,
                   COALESCE(n_name, '(all)') AS n_name,
                   CAST(GROUPING_ID(r_name, n_name) AS BIGINT) AS gid,
                   COUNT(*) AS n
            FROM {{rn}} GROUP BY {clause}
            """,
            rn=rn,
        )

    return (
        block("rollup", "ROLLUP (r_name, n_name)")
        .unionAll(block("cube", "CUBE (r_name, n_name)"))
        .unionAll(block("gsets", "GROUPING SETS ((r_name), (n_name))"))
        .orderBy("mode", "r_name", "n_name", "gid")
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
    ORDER BY l_suppkey
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a plain filter above the agg
    in Catalyst, pushed nowhere (semantically it can't be)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(money("l_quantity")).alias("_sum_qty_dec"))
        .filter(F.col("_sum_qty_dec") > 100)
        .select("l_suppkey", F.col("_sum_qty_dec").cast("double").alias("sum_qty"))
        .orderBy("l_suppkey")
    )


@register(
    "q_agg_approx_cd",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           true AS approx_within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB cardinality path (HLL++,
    constant memory per group; exact distinct would shuffle every
    key). The sketch VALUE is algorithm-specific (DuckDB's sketch
    differs), so the exact-checkable contract is: the exact distinct
    count plus the guarantee that HLL++ (default rsd 0.05) landed
    within 10% of it — deterministic for fixed data, and the oracle
    verifies both the exact count and the error bound."""
    return (
        fan_out(load(spark, sf_dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey").alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("_approx") - F.col("exact_orders"))
                <= 0.10 * F.col("exact_orders")
            ).alias("approx_within_10pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
           ROUND(MAX(o_totalprice) - MIN(o_totalprice), 4) AS price_range
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile` is the
    exact sort-based aggregate; `approx_percentile` is the sketch the
    100 TB path substitutes when a full per-group sort is too dear —
    same call site, different precision contract)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
            F.round(F.max("o_totalprice") - F.min("o_totalprice"), 4).alias(
                "price_range"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'l_quantity' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(l_quantity) AS n_nonnull,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           ROUND(MIN(l_quantity), 4) AS min_v,
           ROUND(MAX(l_quantity), 4) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
           ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(*), COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4)
    FROM lineitem
    ORDER BY column_name
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column row/null/distinct counts and
    value ranges in ONE scan (all aggregates computed together, then
    unpivoted) — the expectation-check primitive an ingestion pipeline
    runs before promoting a batch. The oracle unions per-column
    SELECTs; Spark does it in a single pass.
    """
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nonnull"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    profiles = [
        wide.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            F.col(f"{c}__nonnull").alias("n_nonnull"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_v"),
            F.col(f"{c}__max").alias("max_v"),
        )
        for c in cols
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionAll(p)
    return out.orderBy("column_name")


@register(
    "q_agg_pivot_unpivot",
    oracle="""
    WITH pivoted AS (
      SELECT o_orderstatus,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               AS urgent,
             CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               AS low
      FROM orders
      GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'urgent' AS priority, urgent AS sum_price
    FROM pivoted
    UNION ALL
    SELECT o_orderstatus, 'low' AS priority, low AS sum_price
    FROM pivoted
    ORDER BY o_orderstatus, priority
    """,
)
def q_agg_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (rows→columns) then unpivot (columns→rows) round trip:
    ``groupBy().pivot(col, values)`` with an explicit value list (an
    unlisted pivot triggers a distinct-values collect — never at
    100 TB), then ``unpivot`` back to long form."""
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "5-LOW"])
        .agg(F.sum(money("o_totalprice")).cast("double"))
        .withColumnRenamed("1-URGENT", "urgent")
        .withColumnRenamed("5-LOW", "low")
    )
    return (
        pivoted.unpivot(
            ["o_orderstatus"], ["urgent", "low"], "priority", "sum_price"
        )
        .orderBy("o_orderstatus", "priority")
    )


@register(
    "q_agg_bools",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_bools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates (count_if, bool_and/every,
    bool_or/any) — same names both engines, all partial-aggregable
    (map-side combine shrinks each group to three scalars before the
    shuffle)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("count_if(o_totalprice > 200000)").alias("n_big"),
            F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
            F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP —
    DuckDB's string_agg with ORDER BY): deterministic because the
    within-group order is total. The per-group sort happens inside
    the aggregate buffer; the shuffle stays one narrow exchange on
    the group key."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    )
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*) AS n
        FROM {joined}
        GROUP BY r_name
        ORDER BY r_name
        """,
        joined=joined,
    )


@register(
    "q_agg_mode",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority) AS rk
      FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM r WHERE rk = 1
    ORDER BY o_orderstatus
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent order priority per status)
    via count + row_number with a lexicographic tiebreak — the
    deterministic alternative to `mode()` whose tie behavior is
    engine-defined. The rank window runs over the already-aggregated
    |status|×|priority| table, so it is free at any scale."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_agg_rollup_time",
    oracle="""
    SELECT COALESCE(CAST(yr AS STRING), '(all)') AS yr,
           COALESCE(CAST(qtr AS STRING), '(all)') AS qtr,
           COALESCE(CAST(mon AS STRING), '(all)') AS mon,
           GROUPING(yr, qtr, mon) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM (SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
                 month(o_orderdate) AS mon, o_totalprice
          FROM orders)
    GROUP BY ROLLUP (yr, qtr, mon)
    ORDER BY yr, qtr, mon, gid
    """,
)
def q_agg_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy ROLLUP (year → quarter → month): the time-
    dimension cube every revenue dashboard runs, with grouping_id
    disambiguating subtotal levels. One expand + hash aggregate; the
    rollup multiplies rows by 4 levels map-side, not by re-scanning."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mon"),
        "o_totalprice",
    )
    return spark.sql(
        """
        SELECT COALESCE(CAST(yr AS STRING), '(all)') AS yr,
               COALESCE(CAST(qtr AS STRING), '(all)') AS qtr,
               COALESCE(CAST(mon AS STRING), '(all)') AS mon,
               CAST(GROUPING_ID(yr, qtr, mon) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM {o}
        GROUP BY ROLLUP (yr, qtr, mon)
        ORDER BY yr, qtr, mon, gid
        """,
        o=o,
    )


_AGG_GROUP_BY_ALL = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM {orders}
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
    """


@register("q_agg_group_by_all", oracle=_AGG_GROUP_BY_ALL.format(**FIXTURE_VIEWS))
def q_agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (SQL:2023 sugar, identical in Spark 4 and DuckDB):
    every non-aggregate select item becomes a grouping key — the
    analyst shorthand that removes the copy-the-select-list chore.
    Resolves at analysis time to the ordinary two-key hash aggregate."""
    return fixture_sql(spark, sf_dir, _AGG_GROUP_BY_ALL)


_AGG_FILTER_CLAUSE = """
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_big,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_discount = 0) AS DOUBLE) AS undiscounted,
           MAX(l_quantity) FILTER (WHERE l_linestatus = 'F') AS max_qty_f
    FROM {lineitem}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


@register("q_agg_filter_clause", oracle=_AGG_FILTER_CLAUSE.format(**FIXTURE_VIEWS))
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 FILTER clause on aggregates (shared by Spark and
    DuckDB): per-aggregate predicates without CASE scaffolding, all
    evaluated in ONE pass of the hash aggregate — the conditional-
    aggregation idiom q_agg_q12/q14 write with CASE, in its declarative
    form."""
    return fixture_sql(spark, sf_dir, _AGG_FILTER_CLAUSE)


@register(
    "q_agg_variance",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    m AS (
      SELECT o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s2
      FROM cents GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           round(CAST(n * s2 - s1 * s1 AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 2)
             AS var_pop_dollars,
           round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0), 4)
             AS stddev_pop_dollars
    FROM m
    ORDER BY o_orderstatus
    """,
)
def q_agg_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population variance/stddev: the naive var_pop() sums
    floats in nondeterministic order, so it can't hash-match across
    engines — instead both moments accumulate as exact DECIMAL(38,0)
    integer-cent sums (associative), and the variance is ONE float
    expression over the two exact scalars: (n·Σx² − (Σx)²)/n².
    sqrt is IEEE correctly-rounded, so the final doubles are
    bit-identical. The same two-moment trick is how a distributed
    engine computes variance in one pass anyway."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    c38 = F.col("c").cast("decimal(38,0)")
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c38).cast("decimal(38,0)").alias("s1"),
        F.sum(c38 * c38).cast("decimal(38,0)").alias("s2"),
    )
    num = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    var = num / F.col("n").cast("double") / F.col("n").cast("double") / F.lit(10000.0)
    return m.select(
        "o_orderstatus",
        "n",
        F.round(var, 2).alias("var_pop_dollars"),
        F.round(F.sqrt(var), 4).alias("stddev_pop_dollars"),
    ).orderBy("o_orderstatus")


@register(
    "q_agg_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           min_by(o_orderkey,
                  lpad(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 14, '0')
                  || lpad(CAST(o_orderkey AS VARCHAR), 14, '0')) AS cheapest_order,
           max_by(o_orderkey,
                  lpad(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 14, '0')
                  || lpad(CAST(o_orderkey AS VARCHAR), 14, '0')) AS dearest_order
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax aggregates (min_by/max_by, same names in both
    engines): cheapest and dearest order per status. Both engines
    leave ties engine-defined, so the ordering value is made UNIQUE —
    zero-padded integer cents concatenated with the zero-padded key —
    turning an unstable aggregate into a hash-stable one. One pass,
    no window."""
    o = load(spark, sf_dir, "orders")
    ordv = F.concat(
        F.lpad(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 14, "0"),
        F.lpad(F.col("o_orderkey").cast("string"), 14, "0"),
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", ordv).alias("cheapest_order"),
            F.max_by("o_orderkey", ordv).alias("dearest_order"),
        )
        .orderBy("o_orderstatus")
    )


_WMEDIAN = """
WITH w AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS wt
  FROM {lineitem}
),
cum AS (
  SELECT l_returnflag, qty, wt,
         CAST(SUM(wt) OVER (PARTITION BY l_returnflag
                            ORDER BY qty, wt
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM w
)
SELECT l_returnflag,
       MIN(qty) AS weighted_median_qty
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("q_agg_weighted_median", oracle=_WMEDIAN.format(**FIXTURE_VIEWS))
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact revenue-weighted median quantity per return flag: order
    by value, prefix-sum integer-cent weights, take the first value
    whose cumulative weight crosses half the total (integer
    cross-multiply at the boundary). The pattern generalizes to any
    weighted quantile; weights stay integers so no float can flip the
    crossing row."""
    return fixture_sql(spark, sf_dir, _WMEDIAN)


@register(
    "q_agg_skewness",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0)) AS c
      FROM orders
    ),
    m AS (
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(c * c) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(c * c * c) AS DECIMAL(38,0)) AS s3
      FROM cents GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           round(
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
              - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / pow(
                 (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)),
                 1.5),
             4) AS skewness
    FROM m
    ORDER BY o_orderstatus
    """,
)
def q_agg_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-moment skewness: the third standardized moment from three
    order-free DECIMAL(38,0) integer-cent sums (Σx, Σx², Σx³ — x³ at
    ~1e17/row still fits 38 digits), combined in ONE float expression
    per group. pow(x, 1.5) = x·sqrt(x) is correctly rounded in both
    engines, so even this higher moment hash-matches — the same
    determinism recipe as q_agg_variance, one moment further."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").cast("decimal(38,0)").alias("c"),
    )
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast("decimal(38,0)").alias("s3"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    num = (nd * nd * s3 - F.lit(3.0) * nd * s1 * s2 + F.lit(2.0) * s1 * s1 * s1) / (
        nd * nd * nd
    )
    var = (nd * s2 - s1 * s1) / (nd * nd)
    return m.select(
        "o_orderstatus",
        "n",
        F.round(num / F.pow(var, F.lit(1.5)), 4).alias("skewness"),
    ).orderBy("o_orderstatus")
