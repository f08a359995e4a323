"""Window-function operators.

Not in the reference's literal surface (its engines support them; the
workshop doesn't exercise them) — dialect closure per SURVEY.md §2B.

Scale notes: a window partitioned by a key shuffles once on that key
and sorts within partitions; an *unpartitioned* ordered window is a
single-task bottleneck at 100 TB, so every window here carries a
partition key. Running/sliding sums use decimal math so the driver's
value-hash is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from iceberg_workshop_spark.exprs import money
from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load


@register(
    "q_win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
           RANK()       OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drnk
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank with deterministic tiebreaks:
    row_number orders by a unique key; rank/dense_rank are tie-stable
    by definition (SURVEY §5.3 rule 3)."""
    orders = load(spark, sf_dir, "orders")
    w_unique = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_ties = W.partitionBy("o_custkey").orderBy("o_orderdate")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_unique).alias("rn"),
            F.rank().over(w_ties).alias("rnk"),
            F.dense_rank().over(w_ties).alias("drnk"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q_win_analytic",
    oracle="""
    SELECT event_id, user_id,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           FIRST_VALUE(event_id) OVER w AS first_event,
           LAST_VALUE(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def q_win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first/last over per-user event sequences. lag/lead
    only move existing doubles (no arithmetic) — hash-safe."""
    events = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        events.select(
            "event_id",
            "user_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.first("event_id").over(w).alias("first_event"),
            F.last("event_id").over(w_full).alias("last_event"),
        )
        .orderBy("event_id")
    )


@register(
    "q_win_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sliding_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS monthly_sum
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame specs: running, sliding (ROWS) and 30-day value-range
    (RANGE over a day-number order key — numeric in both engines)."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w_range = W.partitionBy("o_custkey").orderBy(day_num).rangeBetween(-30, 0)
    price = money("o_totalprice")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.sum(price).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("double").alias("running_sum"),
            F.sum(price).over(w.rowsBetween(-2, 0)).cast("double").alias("sliding_sum"),
            F.sum(price).over(w_range).cast("double").alias("monthly_sum"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q_win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical top-k-per-group
    pattern (window + row_number ≤ k). At scale Catalyst rewrites the
    rank filter into a per-partition top-k (WindowGroupLimit) so no
    full sort materializes."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q_win_distribution",
    oracle="""
    SELECT o_orderstatus, quartile,
           COUNT(*) AS n,
           ROUND(MAX(pr), 6) AS max_pr,
           ROUND(MAX(cd), 6) AS max_cd
    FROM (
      SELECT o_orderstatus,
             NTILE(4) OVER w AS quartile,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice, o_orderkey)
    )
    GROUP BY o_orderstatus, quartile
    ORDER BY o_orderstatus, quartile
    """,
)
def q_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile / percent_rank /
    cume_dist per status group, rolled up per quartile. The rank
    ratios are exact rationals of row counts (ties broken by the
    unique key), so float results are engine-identical; one window
    sort + one hash agg, both on the same partition key, so the
    second shuffle collapses into the first."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderstatus",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .groupBy("o_orderstatus", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("pr"), 6).alias("max_pr"),
            F.round(F.max("cd"), 6).alias("max_cd"),
        )
        .orderBy("o_orderstatus", "quartile")
    )


_RUNNING_DISTINCT = """
WITH f AS (
  SELECT o_orderstatus, o_custkey, o_orderdate, o_orderkey,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_orderstatus, o_custkey
                                      ORDER BY o_orderdate, o_orderkey) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM {orders}
)
SELECT o_orderstatus, o_orderkey,
       CAST(SUM(first_seen) OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderdate, o_orderkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT)
         AS running_distinct_custs
FROM f
ORDER BY o_orderstatus, o_orderkey
"""


@register(
    "q_win_running_distinct",
    oracle=_RUNNING_DISTINCT.format(**FIXTURE_VIEWS),
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — unsupported
    directly in Spark (and quadratic-state anywhere) — via the
    first-occurrence rewrite: flag each (status, custkey)'s first
    order with row_number, then a plain running SUM of flags. Both
    windows sort by the same (status-prefixed) key, so the plan is one
    shuffle + sort; state per row is O(1). The same rewrite family as
    q_agg_cumulative_distinct, here at row grain."""
    return fixture_sql(spark, sf_dir, _RUNNING_DISTINCT)


_POP = """
WITH monthly AS (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM {orders}
  GROUP BY year(o_orderdate), month(o_orderdate)
)
SELECT yr, mon,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(LAG(rev) OVER (ORDER BY yr, mon) AS DOUBLE) AS prev_revenue,
       round(CAST(rev AS DOUBLE) /
             CAST(LAG(rev) OVER (ORDER BY yr, mon) AS DOUBLE) - 1, 4)
         AS mom_growth
FROM monthly
ORDER BY yr, mon
"""


@register("q_win_period_over_period", oracle=_POP.format(**FIXTURE_VIEWS))
def q_win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the dashboard staple — monthly
    decimal-exact totals, previous-period revenue, growth as a rounded
    float ratio. The global-order LAG is decomposed by
    ``prefix.prefix_lag`` (year-partitioned LAG + a boundary patch
    from the prior year's last month), so even the monthly rollup
    keeps the engine-wide rule that every Window node is partitioned —
    no single-partition WindowExec anywhere in the plan."""
    from iceberg_workshop_spark.operators.prefix import prefix_lag

    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    lagged = prefix_lag(monthly, F.col("yr"), ["mon"], "rev", "prev_rev")
    return lagged.select(
        "yr",
        "mon",
        F.col("rev").cast("double").alias("revenue"),
        F.col("prev_rev").cast("double").alias("prev_revenue"),
        F.round(
            F.col("rev").cast("double") / F.col("prev_rev").cast("double")
            - 1,
            4,
        ).alias("mom_growth"),
    ).orderBy("yr", "mon")
