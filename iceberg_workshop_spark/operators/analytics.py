"""Behavioral / statistical analytics operators.

Event-funnel conversion, weekly retention cohorts, value histograms,
and bivariate statistics — the product-analytics closure over the
``events`` stream table. All pure DataFrame ops; every query is one
or two shuffles on narrow keys.

The reference's workshop stops at scan/filter/count analytics; these
instantiate the query shapes its engines (Hive/Impala) are routinely
used for on the same star schema, and DuckDB mirrors each exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load

FUNNEL = ["view", "click", "purchase"]
N_BUCKETS = 10
HIST_LO, HIST_HI = 0.0, 10.0


@register(
    "q_funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (t_view IS NOT NULL) AS n_view,
           COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view)
             AS n_view_click,
           COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click)
             AS n_view_click_purchase
    FROM firsts
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose first view precedes their first
    click precedes their first purchase. One conditional-min agg per
    user (single shuffle), then a scalar rollup — no self-joins, no
    per-stage passes."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in FUNNEL
        ]
    )
    return firsts.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_view_click_purchase"),
    )


@register(
    "q_retention_cohort",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT a.wk AS cohort_week,
           COUNT(DISTINCT a.user_id) AS n_active,
           COUNT(DISTINCT b.user_id) AS n_retained
    FROM weekly a
    LEFT JOIN weekly b
      ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAYS
    GROUP BY a.wk
    ORDER BY a.wk
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: of the users active in week w, how
    many were active in w+1. The (user, week) distinct table is tiny
    relative to events, so the self-join runs on the reduced set —
    reduce first, join second, the retention-at-scale rule."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    a = weekly.alias("a")
    b = weekly.alias("b")
    joined = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.wk") == F.col("a.wk") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return (
        joined.groupBy(F.col("a.wk").alias("cohort_week"))
        .agg(
            F.countDistinct(F.col("a.user_id")).alias("n_active"),
            F.countDistinct(F.col("b.user_id")).alias("n_retained"),
        )
        .orderBy("cohort_week")
    )


@register(
    "q_agg_histogram",
    oracle=f"""
    SELECT LEAST(GREATEST(CAST(FLOOR((value - {HIST_LO})
                 / (({HIST_HI} - {HIST_LO}) / {N_BUCKETS})) AS INT), 0),
                 {N_BUCKETS - 1}) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via pure arithmetic bucketing (clamped to
    [0, N)) — one groupBy on a derived int key; the distributed
    histogram primitive (`width_bucket` differs across engines, floor
    arithmetic does not)."""
    ev = load(spark, sf_dir, "events")
    width = (HIST_HI - HIST_LO) / N_BUCKETS
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - HIST_LO) / width).cast("int"), F.lit(0)
        ),
        F.lit(N_BUCKETS - 1),
    )
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           ROUND(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 3) AS r,
           ROUND(stddev_samp(o_totalprice) / 1000, 3) AS sd_price_k,
           ROUND(var_samp(o_totalprice) / 1000000, 3) AS var_price_m
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate/moment statistics per group (corr / stddev / var).

    Both engines use numerically-stable one-pass covariance updates,
    but accumulation *order* differs by partitioning, so results agree
    to ~1e-12 *relative*, not bitwise. Rounding must therefore be
    magnitude-aware: variance (~2e10) carries ~0.02 absolute noise, so
    it is reported in millions (noise 2e-8 ≪ the 5e-4 rounding
    granularity) and stddev in thousands — the fixed-decimal rounding
    then sits orders of magnitude above engine noise."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(
                F.corr("o_totalprice", F.col("o_custkey").cast("double")), 3
            ).alias("r"),
            F.round(F.stddev_samp("o_totalprice") / 1000, 3).alias("sd_price_k"),
            F.round(F.var_samp("o_totalprice") / 1000000, 3).alias("var_price_m"),
        )
        .orderBy("o_orderstatus")
    )


_QUALITY_EXPECTATIONS = """
    SELECT 'lineitem_discount_range' AS rule, COUNT(*) AS violations
    FROM {lineitem} WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'lineitem_orders_fk', COUNT(*)
    FROM {lineitem} l
    WHERE NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_qty_range', COUNT(*)
    FROM {lineitem} WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'orders_customer_fk', COUNT(*)
    FROM {orders} o
    WHERE NOT EXISTS (SELECT 1 FROM {customer} c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orders_null_priority', COUNT(*)
    FROM {orders} WHERE o_orderpriority IS NULL
    UNION ALL
    SELECT 'orders_pk_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM {orders}
    ORDER BY rule
    """


@register("q_quality_expectations", oracle=_QUALITY_EXPECTATIONS.format(**FIXTURE_VIEWS))
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the write-audit gate of
    q_wap_pattern as a standalone report): referential integrity via
    NOT EXISTS anti-joins, primary-key uniqueness as count-minus-
    distinct, domain-range and null checks. Each rule is one
    aggregate; the FK anti-joins shuffle once on the key. Violation
    counts (all zero on healthy fixtures) are the contract a
    production pipeline would alert on."""
    return fixture_sql(spark, sf_dir, _QUALITY_EXPECTATIONS)


_OHLC = """
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM {events}
)
SELECT event_type, hr,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
       round(MAX(value), 4) AS high,
       round(MIN(value), 4) AS low,
       round(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
         AS avg_value
FROM e GROUP BY event_type, hr
ORDER BY event_type, hr
"""


@register("q_agg_ohlc", oracle=_OHLC.format(**FIXTURE_VIEWS))
def q_agg_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsample of the event value stream — the
    hypertable-rollup staple (continuous aggregates in time-series
    stores): open/close via first/last-in-bucket (two row_number
    windows sharing one (type, hour)-partitioned sort → ONE shuffle),
    high/low/avg as plain aggregates. The mean accumulates in
    DECIMAL(18,6) so Spark's and DuckDB's float summation order can't
    diverge (registry money convention). Buckets are the partition
    key, so at 100 TB every window and the final groupBy shard by
    (event_type, hour) — no global sort anywhere; the rollup output is
    |types|×|hours| rows, the shape a continuous aggregate would
    incrementally maintain (q_incr_agg_maintenance)."""
    return fixture_sql(spark, sf_dir, _OHLC)


_GINI = """
WITH cnt AS (
  SELECT source, lang, COUNT(*) AS n
  FROM {documents} GROUP BY source, lang
),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sum_sq,
         COUNT(*) AS n_langs
  FROM cnt GROUP BY source
)
SELECT source, n_langs, total,
       round(1.0 - CAST(sum_sq AS DOUBLE) / (CAST(total AS DOUBLE) *
                                             CAST(total AS DOUBLE)),
             6) AS gini_impurity
FROM tot ORDER BY source
"""


@register("q_agg_gini", oracle=_GINI.format(**FIXTURE_VIEWS))
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix Gini impurity (1 − Σ pᵢ²) — the
    diversity diagnostic a corpus-mixing pipeline reads before setting
    per-source sampling temperatures (q_llm_mix_temperature). Chosen
    over Shannon entropy deliberately: entropy needs ln(), whose last
    ulp differs between the JVM and C runtimes, while Gini is a
    RATIONAL function of the exact integer counts — one double
    division at the end, bit-identical across engines. Two hash
    aggregates on (source, lang) then (source); output is
    |sources| rows at any corpus size."""
    return fixture_sql(spark, sf_dir, _GINI)
