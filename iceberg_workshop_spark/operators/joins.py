"""Join operators.

The reference's star schema ("a partitioned fact `flights` table and
... a dimension `airlines` table" — ``/root/reference/README.md:23``)
makes fact⋈dim equi-joins the core workload; its literal equi-join is
MERGE's ``ON t.code = s.code``
(``/root/reference/sql/update_iceberg_v2_examples.sql:16``).

Scale posture (100 TB): dimension joins are broadcast (no shuffle of
the fact side); the multiway join lets Catalyst/AQE order joins and
pick broadcast per side; the as-of join avoids the quadratic
range-join blow-up by co-grouping on the equi key and running a
per-group ordered merge (``pd.merge_asof``) — linear per partition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_workshop_spark.exprs import SQL_REVENUE, money, revenue_expr
from iceberg_workshop_spark.registry import register, require
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load


@register(
    "q_join_inner",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join + aggregate (SURVEY §2A A9's join shape)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈small-dim with an explicit broadcast hint.

    At 100 TB the fact side never shuffles for a dimension join: the
    dim is shipped to every executor (BroadcastHashJoin), asserted in
    tests via the physical plan.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_join_multiway",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-shaped 5-way star join (SURVEY §7.2).

    region/nation/customer are broadcast-size at any SF; Catalyst +
    AQE pick BroadcastHashJoin for them and shuffle only
    orders⋈lineitem. The region filter is pushed below the joins.
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN preserving customers with zero orders."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@register(
    "q_join_semi_anti",
    oracle="""
    SELECT c_custkey, 'has_order' AS tag
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey, 'no_order' AS tag
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join — MERGE's matched/not-matched halves (A9).

    Semi/anti never materialize the probe side's payload, so at scale
    they beat ``IN (SELECT ...)`` rewrites that deduplicate first.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = customer.c_custkey == orders.o_custkey
    has = (
        customer.join(orders, cond, "left_semi")
        .select("c_custkey", F.lit("has_order").alias("tag"))
    )
    not_has = (
        customer.join(orders, cond, "left_anti")
        .select("c_custkey", F.lit("no_order").alias("tag"))
    )
    return has.unionAll(not_has).orderBy("c_custkey")


@register(
    "q_join_theta_range",
    oracle="""
    SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.event_id <> e1.event_id
     AND e2.ts >= e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    GROUP BY e1.user_id
    ORDER BY user_id
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range self-join: event pairs within 1h per user.

    The equi key (user_id) carries the shuffle; the range predicate is
    evaluated inside the join, so this stays a hash/sort-merge join —
    never a full cartesian — and scales with per-user density.
    """
    events = load(spark, sf_dir, "events")
    e1 = events.alias("e1")
    e2 = events.alias("e2")
    return (
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.event_id") != F.col("e1.event_id"))
            & (F.col("e2.ts") >= F.col("e1.ts"))
            & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_on: str,
    right_on: str,
    left_keep: list[str],
    right_keep: list[str],
    right_tiebreak: str,
) -> DataFrame:
    """Generic as-of join: latest right row at-or-before each left row.

    Spark has no native as-of join; a range join + row_number works but
    re-materializes every candidate pair (quadratic in per-key
    density). Instead we co-group both sides on the equi key and run
    ``pd.merge_asof`` per group — O(n log n) per key, Arrow-batched,
    and the shuffle is exactly one hash partition per side (the same
    shuffle the range join would have needed anyway).
    """
    left_types = dict(left.dtypes)
    right_types = dict(right.dtypes)
    left_cols = set(left.columns)
    schema = ", ".join(
        [f"{c} {left_types[c]}" for c in left_keep]
        + [f"{c} {right_types[c]}" for c in right_keep]
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(columns=left_keep + right_keep)
        # Sort with the tiebreak so equal-timestamp rows resolve to the
        # greatest tiebreak value deterministically (merge_asof takes
        # the last row ≤ the probe).
        lpdf = lpdf.sort_values([left_on])
        rpdf = rpdf.sort_values([right_on, right_tiebreak])
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on=left_on,
            right_on=right_on,
            direction="backward",
            suffixes=("", "__r"),
        )
        cols = {}
        for c in left_keep:
            cols[c] = merged[c]
        for c in right_keep:
            cols[c] = merged[f"{c}__r" if c in left_cols else c]
        out = pd.DataFrame(cols).dropna()
        for c in right_keep:
            if str(out[c].dtype).startswith("float") and right_types[c] in ("bigint", "int"):
                out[c] = out[c].astype("int64")
        return out

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(lambda _key, l, r: merge(l, r), schema=schema)
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT purchase_id, err_id FROM (
      SELECT p.event_id AS purchase_id,
             e.event_id AS err_id,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND e.ts <= p.ts
    ) WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest 'error' event at-or-before each 'purchase'.

    Union-then-window formulation: tag both sides, sort each user's
    stream by (ts, side, tiebreak) with errors ordered *before* the
    purchases they qualify for (ties inclusive, max err_id wins), and
    carry the running ``last(err_id, ignorenulls)`` onto purchase
    rows. One shuffle on user_id, one sort, zero Python — the same
    answer as the quadratic range-join+row_number oracle, and the plan
    that survives dense keys at 100 TB (the pandas co-group variant,
    ``asof_join`` above, stays available as the generic API and is
    equality-tested against this one).
    """
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("err_id"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("err_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "err_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = purchases.unionAll(errors).withColumn(
        "last_err", F.last("err_id", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("side") == 1)
        .filter(F.col("last_err").isNotNull())
        .select("purchase_id", F.col("last_err").alias("err_id"))
        .orderBy("purchase_id")
    )


@register(
    "q_join_asof_tolerance",
    oracle='''
    SELECT purchase_id, err_id, gap_s FROM (
      SELECT p.event_id AS purchase_id,
             e.event_id AS err_id,
             CAST(epoch_us(p.ts) // 1000000
                  - epoch_us(e.ts) // 1000000 AS BIGINT) AS gap_s,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND e.ts <= p.ts
    ) WHERE rn = 1 AND gap_s <= 7200
    ORDER BY purchase_id
    ''',
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas merge_asof's
    ``tolerance=``): each purchase matches its latest prior error only
    if that error is within 2 hours — a stale match is no match, NOT
    an invitation to reach further back (the tolerance filters the
    as-of winner, it does not re-rank). Same union-then-window plan as
    q_join_asof, additionally carrying the matched error's timestamp
    so the gap test runs in the same pass — still one shuffle on
    user_id, zero Python."""
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("err_id"),
        F.lit(None).cast("timestamp").alias("err_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "err_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        purchases.unionAll(errors)
        .withColumn("last_err", F.last("err_id", ignorenulls=True).over(w))
        .withColumn("last_err_ts", F.last("err_ts", ignorenulls=True).over(w))
    )
    gap = F.expr("unix_micros(ts) div 1000000") - F.expr(
        "unix_micros(last_err_ts) div 1000000"
    )
    return (
        merged.filter(F.col("side") == 1)
        .filter(F.col("last_err").isNotNull())
        .withColumn("gap_s", gap.cast("long"))
        .filter(F.col("gap_s") <= 7200)
        .select("purchase_id", F.col("last_err").alias("err_id"), "gap_s")
        .orderBy("purchase_id")
    )


@register(
    "q_join_q18_shape",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    JOIN big ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q_join_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    fact aggregation driving a semi-style join back into orders, then
    a dim join and global top-100.

    Scale notes: the heavy side (lineitem agg) reduces to keys-only
    before joining — the shuffle carries one row per qualifying order,
    not per lineitem; the orders⋈big join is a broadcast once AQE sees
    how few orders survive the HAVING; top-100 is TakeOrdered.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q_join_q7_shape",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name <> n2.n_name
      AND n1.n_regionkey = 1 AND n2.n_regionkey = 2
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_join_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume shipped between nation pairs, the
    double-role dimension pattern (nation joined twice under two
    aliases). Both nation sides and supplier/customer broadcast; the
    only shuffle is orders⋈lineitem, and the nation-pair filter is
    pushed below the join via the broadcast hash sets."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.filter(F.col("n_regionkey") == 1).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_regionkey") == 2).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q_join_full_outer",
    oracle="""
    SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_orderkey IS NULL THEN 'customer_only'
                ELSE 'matched' END AS cls,
           COUNT(*) AS n
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
      ON o.o_custkey = c.c_custkey
    GROUP BY cls
    ORDER BY cls
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — both-side-preserving match classes (the
    reconciliation shape: matched / left-only / right-only). Full
    outer cannot broadcast either side; it plans as a sort-merge join
    with both sides shuffled on the key — the one join type where
    that is irreducible."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    joined = cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "full_outer")
    cls = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_orderkey").isNull(), "customer_only")
        .otherwise("matched")
    )
    return (
        joined.groupBy(cls.alias("cls"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls")
    )


BAND_US = 300_000_000  # 5-minute bands (µs) — band width == range width


@register(
    "q_join_range_banded",
    oracle=f"""
    SELECT e1.event_type, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON epoch_us(e2.ts) >= epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + {BAND_US}
     AND e2.event_id <> e1.event_id
    GROUP BY e1.event_type
    ORDER BY e1.event_type
    """,
)
def q_join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join via time-banding: pairs of events within 5
    minutes ACROSS the whole stream (no equi column exists). A naive
    plan is a broadcast-nested-loop over the full cross product;
    banding buckets each probe row into floor(ts/W) and floor(ts/W)+1
    (band width W = range width, so every in-range partner is in one
    of the two), turning the join into an EQUI join on the band key —
    shuffled hash/SMJ, cost O(rows × per-band density) instead of
    O(n²). Exact µs integer arithmetic keeps both engines identical.
    """
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts")
        .withColumn("us", F.unix_micros("ts"))
    )
    right = ev.select(
        F.col("event_id").alias("r_id"),
        F.col("us").alias("r_us"),
        F.expr(f"us div {BAND_US}").alias("band"),
    )
    left = ev.withColumn(
        "band",
        F.explode(
            F.array(
                F.expr(f"us div {BAND_US}"), F.expr(f"us div {BAND_US} + 1")
            )
        ),
    )
    return (
        left.join(right, "band")
        .filter(
            (F.col("r_us") >= F.col("us"))
            & (F.col("r_us") <= F.col("us") + BAND_US)
            & (F.col("r_id") != F.col("event_id"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("event_type")
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT purchase_id, err_id FROM (
      SELECT p.event_id AS purchase_id,
             e.event_id AS err_id,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY e.ts ASC, e.event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND e.ts >= p.ts
    ) WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: FIRST 'error' at-or-after each 'purchase'
    (q_join_asof's mirror — the "what broke next" direction). Same
    union-then-window plan, with the carried value read from the
    FOLLOWING frame: errors sort after same-timestamp purchases
    (side 2 > 1) so the at-or-after tie stays inclusive, and
    first(ignorenulls) picks the earliest qualifying error. One
    shuffle + one sort, same as backward."""
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("err_id"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(2).alias("side"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("err_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "err_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        purchases.unionByName(errors)
        .withColumn("next_err", F.first("err_id", ignorenulls=True).over(w))
        .filter((F.col("side") == 1) & F.col("next_err").isNotNull())
        .select("purchase_id", F.col("next_err").alias("err_id"))
        .orderBy("purchase_id")
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS k
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS k,
             COUNT(*) AS n_right
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(l.k, '(null)') AS k, COUNT(*) AS n_pairs,
           MIN(r.n_right) AS n_right
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY COALESCE(l.k, '(null)')
    ORDER BY k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics a
    dimension with an explicit unknown bucket needs. Spark plans <=>
    as an ordinary hash join (null-safe keys still hash-partition);
    a plain = would silently drop every NULL-keyed row."""
    o = load(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    right = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n_right"))
    return (
        keyed.alias("l")
        .join(right.alias("r"), F.col("l.k").eqNullSafe(F.col("r.k")))
        .groupBy(F.coalesce(F.col("l.k"), F.lit("(null)")).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("n_right").alias("n_right"),
        )
        .orderBy("k")
    )


@register(
    "q_join_hints",
    oracle="""
    SELECT 'merge' AS strategy, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    UNION ALL
    SELECT 'shuffle_hash', COUNT(*),
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    ORDER BY strategy
    """,
)
def q_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hints (MERGE vs SHUFFLE_HASH): the same
    fact⋈fact join computed under both physical strategies must agree
    — hints move the sort-vs-hash tradeoff (sort-merge spills
    gracefully; shuffle-hash skips both sorts when one side fits its
    partition in memory) without touching semantics. Plan assertions
    live in tests/test_plans.py."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey"
    )

    def agg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("strategy"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )

    merged = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    hashed = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    return agg(merged, "merge").unionAll(agg(hashed, "shuffle_hash")).orderBy(
        "strategy"
    )


EDITDIST_K = 2  # report pairs at levenshtein distance <= 2


@register(
    "q_join_editdist",
    oracle=f"""
    WITH s AS (SELECT DISTINCT lower(p_name) AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM s a JOIN s b
      ON a.name < b.name
     AND abs(length(a.name) - length(b.name)) <= {EDITDIST_K}
    WHERE levenshtein(a.name, b.name) <= {EDITDIST_K}
    ORDER BY name_a, name_b
    """,
)
def q_join_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity JOIN (PassJoin, Li et al. 2011): all
    distinct part-name pairs within levenshtein distance EDITDIST_K
    (2) — the string twin of the set-similarity PPJoin
    (llm/dedup.py q_llm_dedup_prefix). The oracle is the brute-force
    all-pairs join, so the blocking is oracle-PROVEN lossless.

    Scale path instead of all-pairs: every name of length L is cut
    into K+1 = 3 segments (shorter segments first — the PassJoin
    convention); by pigeonhole, any string within distance K contains
    at least one segment EXACTLY, shifted by at most K characters. The
    index side emits 3 signature rows per name keyed
    (seg_idx, seg, L); the probe side emits one substring per
    (candidate length in [len-K, len+K], seg_idx, start within +-K of
    the segment's home position) — a constant ~(2K+1)^2*(K+1) rows
    per name. The equi-join on long exact segments is selective, and
    levenshtein runs ONLY on surviving candidates. At 100 TB this
    replaces an O(n^2) quadratic join with a constant-factor explode +
    one hash join, the standard shape for fuzzy keying/entity
    resolution."""
    names = (
        load(spark, sf_dir, "part")
        .select(F.lower("p_name").alias("name"))
        .distinct()
        .withColumn("l", F.length("name"))
    )
    # The probe never emits candidate lengths < K+1 (zero-length
    # segments would match everything), so a name shorter than K+1
    # characters would be indexed but silently unreachable. Part
    # names are ~20+ chars; fail LOUDLY if a corpus ever violates
    # this instead of quietly missing pairs vs the all-pairs oracle.
    require(
        names.agg(F.min("l")).first()[0] >= EDITDIST_K + 1,
        f"editdist blocking requires names of >= {EDITDIST_K + 1} chars",
    )
    # segment geometry for a string of length la: base/rem split with
    # the longer segments LAST: len_i = base + (i >= 3-rem),
    # pos_i = i*base + max(0, i - (3-rem))
    seg_len = (
        "(la div 3) + IF(i >= 3 - la % 3, 1, 0)"
    )
    seg_pos = "i * (la div 3) + GREATEST(0, i - (3 - la % 3))"
    sig = names.select(
        F.col("name").alias("a"),
        F.col("l").alias("la"),
        F.explode(F.expr("sequence(0, 2)")).alias("i"),
    ).select(
        "a",
        "la",
        "i",
        F.expr(f"substring(a, ({seg_pos}) + 1, {seg_len})").alias("seg"),
    )
    probe = (
        names.select(
            F.col("name").alias("b"),
            F.col("l").alias("lb"),
            F.explode(
                F.expr(
                    f"sequence(greatest(3, l - {EDITDIST_K}),"
                    f" l + {EDITDIST_K})"
                )
            ).alias("la"),
        )
        .select(
            "b",
            "lb",
            "la",
            F.explode(F.expr("sequence(0, 2)")).alias("i"),
        )
        .select(
            "b",
            "lb",
            "la",
            "i",
            F.explode(
                F.expr(
                    f"sequence(greatest(0, ({seg_pos}) - {EDITDIST_K}),"
                    f" least(lb - ({seg_len}), ({seg_pos}) + {EDITDIST_K}))"
                )
            ).alias("p"),
        )
        .select(
            "b",
            "la",
            "i",
            F.expr(f"substring(b, p + 1, {seg_len})").alias("seg"),
        )
    )
    cand = (
        sig.join(probe, ["la", "i", "seg"])
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("name_a"),
            F.greatest("a", "b").alias("name_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= EDITDIST_K)
        .orderBy("name_a", "name_b")
    )


SPATIAL_R = 300  # radius in grid units
SPATIAL_CELL = 300  # bucketing cell width == R, so 3x3 cells cover it

_SPATIAL_PTS = """
  SELECT c_custkey AS pid,
         CAST({hex8a} AS BIGINT) % 100000 AS x,
         CAST({hex8b} AS BIGINT) % 100000 AS y
  FROM {customer}
"""


def _spatial_candidates(spark: SparkSession, sf_dir: str):
    """(points, candidate pairs) of the grid-bucketed spatial join —
    the 3x3 cell-neighborhood equi-join BEFORE the radius refine.
    Shared by ``q_join_spatial_radius`` and the scale certificate
    (``tools/spatial_certificate.py``): the fixture multiplies point
    DENSITY on a fixed 100k x 100k grid, so the candidate (and output)
    pair count is inherently ~quadratic in SF — wall-clock per
    CANDIDATE PAIR, not wall-clock per row, is the quantity that must
    stay flat for the plan to be scale-sound, and the certificate
    measures exactly this stream."""
    pts = fixture_sql(
        spark,
        sf_dir,
        _SPATIAL_PTS.format(
            customer="{customer}",
            hex8a="conv(substring(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10)",
            hex8b="conv(substring(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10)",
        ),
    )
    C = SPATIAL_CELL
    home = pts.select(
        "pid", "x", "y",
        F.expr(f"CAST(floor(x / {C}) AS BIGINT)").alias("cx"),
        F.expr(f"CAST(floor(y / {C}) AS BIGINT)").alias("cy"),
    )
    # replicate side a to its 3x3 neighborhood; side b stays at home
    a = home.select(
        F.col("pid").alias("pid_a"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(F.expr("sequence(cx - 1, cx + 1)")).alias("cx"),
        F.col("cy").alias("cy0"),
    ).select(
        "pid_a", "xa", "ya", "cx",
        F.explode(F.expr("sequence(cy0 - 1, cy0 + 1)")).alias("cy"),
    )
    b = home.select(
        F.col("pid").alias("pid_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), "cx", "cy",
    )
    cands = a.join(b, ["cx", "cy"]).filter(F.col("pid_a") < F.col("pid_b"))
    return pts, cands


@register(
    "q_join_spatial_radius",
    oracle=f"""
    WITH pts AS ({_SPATIAL_PTS.format(
        **FIXTURE_VIEWS,
        hex8a="('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT",
        hex8b="('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT",
    )}),
    pairs AS (
      SELECT a.pid AS pid_a, b.pid AS pid_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON a.pid < b.pid
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {SPATIAL_R * SPATIAL_R}
    )
    SELECT (SELECT COUNT(*) FROM pts) AS n_points,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(d2) AS BIGINT) AS min_d2,
           CAST(MAX(d2) AS BIGINT) AS max_d2,
           CAST(SUM(d2) AS BIGINT) AS sum_d2
    FROM pairs
    """,
)
def q_join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join on integer planar coordinates — the
    grid-bucketing pattern every distributed spatial join uses
    (GeoSpark/Sedona's partition-then-refine), made integer-exact so
    DuckDB replays it bit-for-bit: points live on a 100k x 100k grid
    (coordinates from md5(custkey) halves — engine-portable), a pair
    matches when squared Euclidean distance <= R^2 (no sqrt, no
    floats).

    Scale path: bucket each point into a cell of width R; any pair
    within R lies in the same or an adjacent cell, so each point
    replicates to its 3x3 cell neighborhood on ONE side of the join
    (9x replication, not 9x pairs) and the equi-join on cell ids
    shards the quadratic candidate space to per-neighborhood products
    — the oracle is the all-pairs join, proving the cell cover is
    lossless. Dedup falls out of joining replicated-side cell ==
    home cell of the other side; at 100 TB this is one hash join on
    cell keys instead of a cross join."""
    pts, cands = _spatial_candidates(spark, sf_dir)
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    pairs = (
        cands.select("pid_a", "pid_b", d2.alias("d2"))
        .filter(F.col("d2") <= SPATIAL_R * SPATIAL_R)
    )
    n_points = pts.agg(F.count(F.lit(1)).alias("n_points"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("d2").cast("bigint").alias("min_d2"),
        F.max("d2").cast("bigint").alias("max_d2"),
        F.sum("d2").cast("bigint").alias("sum_d2"),
    ).crossJoin(F.broadcast(n_points)).select(
        "n_points", "n_pairs", "min_d2", "max_d2", "sum_d2"
    )
