"""Probabilistic data structures made exact-oracle-checkable:
Bloom filter membership and Count-Min frequency estimation.

Native sketch aggregates (Spark's HLL++/BloomFilterAggregate, DuckDB's
approx_* family) are engine-specific — their bit patterns can't
hash-match across engines, which is why q_agg_approx_cd is rows-only.
These two instead build the sketches IN SQL from md5 (bit-identical
everywhere): the construction is one groupBy over (word|row, col) with
a bit_or / sum aggregate — exactly how a distributed sketch build
shuffles at 100 TB (sketch size is constant; only the key stream is
big) — and the resulting filter words / count matrix are deterministic
integers, so both the sketch AND its query answers get exact oracles.

Bit widths stay in signed-int64-safe territory: 32-bit filter words
(shift ≤ 31) and 8-hex-digit (32-bit) hash draws from the md5 digest.

Dialect seams (the only differences between the Spark query and its
DuckDB oracle): hex→int (``conv(x,16,10)`` vs ``('0x'||x)::BIGINT``)
and integer division (``div`` vs ``//``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load

# Three independent 32-bit draws from one md5 digest: hex digits
# [1+8i, 8] for hash index i ∈ {0,1,2} (a column, so substr gets an
# expression position — supported by both engines).
_SUB = "substr(md5(CAST({key} AS STRING)), 1 + 8 * h.i, 8)"
_HEX_SPARK = "CAST(conv(" + _SUB + ", 16, 10) AS BIGINT)"
_HEX_DUCK = "(('0x' || " + _SUB + ")::BIGINT)"

_HASH_IDX = "SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2"

_BLOOM_BITS = 4096
_WORD = 32  # bits per filter word; 1 << 31 still fits in int64


def _bloom_sql(hexint: str, intdiv: str) -> str:
    mslot = hexint.format(key="m.k") + f" % {_BLOOM_BITS}"
    pslot = hexint.format(key="p.k") + f" % {_BLOOM_BITS}"
    return f"""
WITH hashes AS ({_HASH_IDX}),
members AS (
  SELECT DISTINCT s.s_suppkey AS k
  FROM {{supplier}} s JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_regionkey = 1
),
mb AS (
  SELECT ({mslot}) AS slot
  FROM members m CROSS JOIN hashes h
),
filter_words AS (
  SELECT slot {intdiv} {_WORD} AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << (slot % {_WORD})) AS BIGINT) AS mask
  FROM mb GROUP BY slot {intdiv} {_WORD}
),
probes AS (
  SELECT s.s_suppkey AS k,
         CASE WHEN n.n_regionkey = 1 THEN 'member' ELSE 'non_member' END AS cls
  FROM {{supplier}} s JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey
),
pb AS (
  SELECT p.k, p.cls, ({pslot}) AS slot
  FROM probes p CROSS JOIN hashes h
),
tests AS (
  SELECT pb.k, pb.cls,
         MIN(CASE WHEN fw.mask IS NOT NULL
                   AND (fw.mask & (CAST(1 AS BIGINT) << (pb.slot % {_WORD}))) <> 0
             THEN 1 ELSE 0 END) AS hit
  FROM pb LEFT JOIN filter_words fw ON fw.word = pb.slot {intdiv} {_WORD}
  GROUP BY pb.k, pb.cls
)
SELECT cls, COUNT(*) AS n_probes,
       CAST(SUM(hit) AS BIGINT) AS n_hits
FROM tests GROUP BY cls ORDER BY cls
"""


@register("q_sketch_bloom", oracle=_bloom_sql(_HEX_DUCK, "//").format(**FIXTURE_VIEWS))
def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership over region-1 supplier keys: 4096 bits
    as 128 32-bit words, 3 md5-derived hash functions. Build = one
    groupBy(word) bit_or; probe = 3-row expansion per key left-joined
    to the (constant-size, broadcast) word table; membership = all
    three bits set. Members must all hit — the result proves zero
    false negatives — and non-member hits are the deterministic
    false-positive count."""
    return fixture_sql(spark, sf_dir, _bloom_sql(_HEX_SPARK, " div "))


_CM_WIDTH = 64
_CM_DEPTH_HASHES = _HASH_IDX  # depth 3


def _countmin_sql(hexint: str) -> str:
    eslot = hexint.format(key="e.user_id") + f" % {_CM_WIDTH}"
    qslot = hexint.format(key="q.user_id") + f" % {_CM_WIDTH}"
    return f"""
WITH hashes AS ({_CM_DEPTH_HASHES}),
cells AS (
  SELECT h.i AS row_i, ({eslot}) AS col, COUNT(*) AS cnt
  FROM {{events}} e CROSS JOIN hashes h
  GROUP BY h.i, ({eslot})
),
exact AS (
  SELECT user_id, COUNT(*) AS true_cnt FROM {{events}} GROUP BY user_id
),
est AS (
  SELECT q.user_id, q.true_cnt,
         MIN(c.cnt) AS cm_est
  FROM exact q CROSS JOIN hashes h
  JOIN cells c ON c.row_i = h.i AND c.col = ({qslot})
  GROUP BY q.user_id, q.true_cnt
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN cm_est > true_cnt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overestimated,
       CAST(SUM(CASE WHEN cm_est < true_cnt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_underestimated,
       CAST(SUM(cm_est - true_cnt) AS BIGINT) AS total_overcount
FROM est
"""


@register("q_sketch_countmin", oracle=_countmin_sql(_HEX_DUCK).format(**FIXTURE_VIEWS))
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (depth 3 × width 64) over the event
    user stream, queried for every user and compared against exact
    counts. The sketch build is one groupBy over (row, col) — 192
    cells regardless of stream size. The summary certifies the CM
    guarantee: zero underestimates, overestimates only from hash
    collisions (both counts deterministic via md5)."""
    return fixture_sql(spark, sf_dir, _countmin_sql(_HEX_SPARK))


def _histq_sql() -> str:
    # floor() then cast: a direct double→int CAST truncates in Spark
    # but rounds in DuckDB — floor makes the value integral first, so
    # the cast is exact in both.
    return """
WITH hist AS (
  SELECT CAST(floor(o_totalprice / 2000) AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM {orders}
  GROUP BY CAST(floor(o_totalprice / 2000) AS BIGINT)
),
cum AS (
  SELECT bucket, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS running,
         (SELECT COUNT(*) FROM {orders}) AS total
  FROM hist
)
SELECT q.pct,
       CAST(MIN(c.bucket) * 2000 AS BIGINT) AS bucket_floor,
       CAST(MIN(c.bucket) * 2000 + 2000 AS BIGINT) AS bucket_ceil
FROM (SELECT 50 AS pct UNION ALL SELECT 90 UNION ALL SELECT 99) q
JOIN cum c ON c.running * 100 >= c.total * q.pct
GROUP BY q.pct
ORDER BY q.pct
"""


@register("q_sketch_hist_quantile", oracle=_histq_sql().format(**FIXTURE_VIEWS))
def q_sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram quantile sketch: bucket order totals into
    2000-unit bins (integer floor division — exact in both engines),
    prefix-sum the counts, and locate p50/p90/p99 as the first bucket
    whose cumulative count crosses the rank (integer cross-multiply,
    no float at the boundary). The histogram prefix sum runs through
    ``prefix.prefix_sum`` (64-bucket-block partitioned window +
    broadcast block offsets) so no single-partition WindowExec exists
    even on the bounded histogram frame. The answer is an interval,
    not a point — the sketch's honest contract: error ≤ bucket width,
    the structure is a few hundred ints, and partial histograms merge
    by addition (the 100 TB property; exact per-group sort-based
    percentiles live in q_agg_percentile)."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.operators.prefix import prefix_sum

    orders = load(spark, sf_dir, "orders")
    hist = orders.groupBy(
        F.floor(F.col("o_totalprice") / 2000).cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    cum = prefix_sum(
        hist,
        F.floor(F.col("bucket") / 64).cast("bigint"),
        ["bucket"],
        "cnt",
        "running",
    )
    total = orders.agg(F.count("*").alias("total"))
    pcts = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("pct")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(pcts),
            F.col("running") * 100 >= F.col("total") * F.col("pct"),
        )
        .groupBy("pct")
        .agg(
            (F.min("bucket") * 2000).cast("bigint").alias("bucket_floor"),
            (F.min("bucket") * 2000 + 2000).cast("bigint").alias("bucket_ceil"),
        )
        .orderBy("pct")
    )


def _bloom_merge_sql(hexint: str, intdiv: str) -> str:
    slot = hexint.format(key="m.k") + f" % {_BLOOM_BITS}"
    return f"""
WITH hashes AS ({_HASH_IDX}),
members AS (
  SELECT s_suppkey AS k, s_suppkey % 2 AS shard FROM {{supplier}}
),
mb AS (
  SELECT m.shard, ({slot}) AS slot FROM members m CROSS JOIN hashes h
),
sharded AS (
  SELECT shard, slot {intdiv} {_WORD} AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << (slot % {_WORD})) AS BIGINT) AS mask
  FROM mb GROUP BY shard, slot {intdiv} {_WORD}
),
merged AS (
  SELECT word, CAST(bit_or(mask) AS BIGINT) AS mask
  FROM sharded GROUP BY word
),
global AS (
  SELECT slot {intdiv} {_WORD} AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << (slot % {_WORD})) AS BIGINT) AS mask
  FROM mb GROUP BY slot {intdiv} {_WORD}
)
SELECT COUNT(*) AS n_words,
       CAST(SUM(CASE WHEN m.mask = g.mask THEN 1 ELSE 0 END) AS BIGINT)
         AS n_equal
FROM merged m JOIN global g ON m.word = g.word
"""


@register(
    "q_sketch_bloom_merge",
    oracle=_bloom_merge_sql(_HEX_DUCK, "//").format(**FIXTURE_VIEWS),
)
def q_sketch_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability, PROVEN rather than claimed: build one
    Bloom filter per shard (the per-partition build a distributed
    pipeline produces), OR the shard filters together, and compare
    word-for-word against a filter built over all keys at once —
    every word must match. This is the algebraic property that lets
    100 TB sketch builds run as tree-reduced partial aggregates with
    no row ever leaving its partition."""
    return fixture_sql(spark, sf_dir, _bloom_merge_sql(_HEX_SPARK, " div "))


@register(
    "q_sketch_hll_merge",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           true AS merged_within_5pct,
           true AS global_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via Spark's
    hll_sketch_agg / hll_union_agg): per-shard sketches of distinct
    order keys — one sketch per (returnflag, linenumber) shard, the
    shape a per-partition build produces — are union-merged per
    returnflag WITHOUT touching the source rows again, and the merged
    estimate must land within the sketch's error bounds of the exact
    count, as must a direct single-pass build. Merged and direct
    register states may legitimately differ (sparse→dense promotions
    happen at different points), which is why the certificate is
    error-bounded, not bit-equality — the Bloom variant
    (q_sketch_bloom_merge) proves exact mergeability where the algebra
    gives it.

    100 TB: this is THE pattern for distinct-count rollups — shard
    sketches are a few KB each, so daily/global cardinality rollups
    merge metadata-scale state instead of re-scanning the fact table.
    """
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linenumber", "l_orderkey"
    )
    shards = li.groupBy("l_returnflag", "l_linenumber").agg(
        F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("sk")
    )
    merged = shards.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey", F.lit(14))).alias(
            "est_direct"
        ),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    return (
        direct.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("est_merged") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("merged_within_5pct"),
            (
                F.abs(F.col("est_direct") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("global_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_sketch_hll_rolling",
    oracle="""
    WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    user_days AS (
      SELECT DISTINCT date_trunc('day', ts) AS uday, user_id FROM events
    )
    SELECT d.day, COUNT(DISTINCT u.user_id) AS users_7d,
           true AS sketch_within_5pct
    FROM days d
    JOIN user_days u
      ON u.uday <= d.day AND u.uday >= d.day - INTERVAL 6 DAY
    GROUP BY d.day
    ORDER BY d.day
    """,
)
def q_sketch_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users via WINDOWED sketch merge: one
    HLL sketch per day (a few KB), then `hll_union_agg` over a 7-day
    range frame — the rolling-distinct rollup costs O(days × sketch)
    after the single daily pre-aggregation, instead of the O(user-days
    × window) band join the exact rewrite pays (q_win_rolling_distinct).
    At 100 TB with years of history this is the only affordable shape;
    the certificate compares every day's estimate against the exact
    band-join count (≤5% — lgK=14 gives ~0.8% standard error)."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    # Trailing merge WITHOUT a window: each day's sketch is exploded to
    # the 7 target days it contributes to, then one hash aggregate
    # unions per target day. Fully partitioned by target day — the
    # single-partition global-orderBy WindowExec the range-frame form
    # compiles to would serialize all history through one task; here
    # the replication is 7 × a few-KB sketch per day, and target days
    # with no real events (the 6 days past the last) fall out of the
    # inner certificate join below.
    est = (
        daily.select(
            F.explode(
                F.expr(
                    "sequence(day, day + interval 6 days, interval 1 day)"
                )
            ).alias("day"),
            "sk",
        )
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    user_days = ev.distinct().select(F.col("day").alias("uday"), "user_id")
    exact = (
        daily.select("day")
        .join(
            user_days,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") >= F.col("day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )
    return (
        exact.join(est, "day")
        .select(
            "day",
            "users_7d",
            (
                F.abs(F.col("est") - F.col("users_7d"))
                <= 0.05 * F.col("users_7d")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("day")
    )


@register(
    "q_sketch_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_distinct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via Spark 4 bitmap
    aggregates: per-(group, shard, bucket) bitmaps are built with
    `bitmap_construct_agg(bitmap_bit_position(key))`, OR-merged per
    (group, bucket) WITHOUT re-reading data, and counted — the roaring
    -bitmap-style middle ground between re-scan COUNT DISTINCT (exact
    but unmergeable) and HLL (mergeable but approximate): compact,
    mergeable AND exact for dense integer keys. Bucketing by
    `bitmap_bucket_number` is load-bearing — a bitmap segment covers a
    fixed key range, so each bucket merges independently and the final
    count is the per-bucket sum. At 100 TB these bitmaps are the
    incremental-rollup state a daily distinct-users pipeline stores
    per partition."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linenumber", "l_orderkey"
    )
    shards = (
        li.withColumn("bucket", F.expr("bitmap_bucket_number(l_orderkey)"))
        .groupBy("l_returnflag", "l_linenumber", "bucket")
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(l_orderkey))"
            ).alias("bm")
        )
    )
    per_bucket = shards.groupBy("l_returnflag", "bucket").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("n")
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum("n").alias("n_distinct"))
        .orderBy("l_returnflag")
    )


# ------------------------------------------------ KMV distinct sketch

KMV_K = 64  # sketch size: k minimum hash values per group


@register(
    "q_sketch_kmv",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS STRING)), 1, 15))::BIGINT
               AS h
      FROM lineitem
    ), shard_mins AS (
      -- per-(group, shard) k smallest hashes: the mergeable state
      SELECT l_returnflag, h
      FROM (
        SELECT l_returnflag, h,
               ROW_NUMBER() OVER (
                 PARTITION BY l_returnflag, h % 8 ORDER BY h
               ) AS r
        FROM hashed
      ) WHERE r <= {KMV_K}
    ), merged AS (
      -- union-merge: k smallest of the shard unions
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS r,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n_avail
      FROM shard_mins
    )
    SELECT m.l_returnflag,
           CAST(CASE WHEN MAX(m.n_avail) < {KMV_K} THEN MAX(m.n_avail)
                ELSE CAST(FLOOR(({KMV_K} - 1) /
                     (MAX(CASE WHEN m.r = {KMV_K} THEN m.h END)
                      / 1152921504606846976.0)) AS BIGINT)
           END AS BIGINT) AS kmv_estimate,
           d.n_exact
    FROM merged m
    JOIN (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
          FROM lineitem GROUP BY l_returnflag) d USING (l_returnflag)
    WHERE m.r <= {KMV_K}
    GROUP BY m.l_returnflag, d.n_exact
    ORDER BY m.l_returnflag
    """,
)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch — the
    order-statistics alternative to HLL: keep the k smallest hash
    values per group; the estimate is (k-1)/r_k where r_k is the k-th
    smallest hash normalized to (0,1). Built in two genuinely
    mergeable levels exactly as a 1000-executor rollup would: k
    smallest per (group, shard) map-side, then k smallest of the
    shard unions — merging bottom-k sets is itself a bottom-k, the
    property that makes KMV a distributive rollup state (and, unlike
    HLL, it also supports set INTERSECTION estimates via the Jaccard
    of the union sketch). Groups with fewer than k distinct hashes
    report the exact count (the sketch degenerates to the value set).

    Deterministic md5 60-bit hashing (shared convention with the
    bloom/count-min family) lets DuckDB replay the sketch
    bit-for-bit: estimates AND the exact counts they approximate are
    both oracle-pinned, so the driver verifies the estimator algebra,
    not just row shape."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    hashed = li.distinct().select(
        "l_returnflag",
        F.expr(
            "CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    ).distinct()
    # level 1: bottom-k per (group, hash-shard) — the map-side state
    shard_mins = hashed.groupBy(
        "l_returnflag", (F.col("h") % 8).alias("shard")
    ).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, KMV_K).alias("mins")
    )
    # level 2: union-merge shard sketches, keep bottom-k again
    merged = shard_mins.groupBy("l_returnflag").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("mins"))), 1, KMV_K
        ).alias("mins")
    )
    est = merged.select(
        "l_returnflag",
        F.when(
            F.size("mins") < KMV_K, F.size("mins").cast("long")
        )
        .otherwise(
            F.floor(
                F.lit(KMV_K - 1)
                / (
                    F.element_at("mins", KMV_K).cast("double")
                    / F.lit(float(2**60))
                )
            ).cast("long")
        )
        .alias("kmv_estimate"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return est.join(exact, "l_returnflag").orderBy("l_returnflag")


@register(
    "q_sketch_kmv_intersect",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS STRING)), 1, 15))::BIGINT
               AS h
      FROM events WHERE event_type IN ('view', 'purchase')
    ), sk AS (
      SELECT event_type, list_sort(list(h))[1:{KMV_K}] AS mins
      FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        FROM hashed
      ) WHERE r <= {KMV_K}
      GROUP BY event_type
    ), pair AS (
      SELECT a.mins AS ma, b.mins AS mb,
             list_sort(list_distinct(list_concat(a.mins, b.mins)))
               [1:{KMV_K}] AS mu
      FROM (SELECT mins FROM sk WHERE event_type = 'view') a,
           (SELECT mins FROM sk WHERE event_type = 'purchase') b
    ), est AS (
      SELECT len(list_intersect(list_intersect(ma, mb), mu)) AS n_inter,
             CASE WHEN len(mu) < {KMV_K} THEN len(mu)
                  ELSE CAST(FLOOR(({KMV_K} - 1) /
                       (mu[{KMV_K}] / 1152921504606846976.0)) AS BIGINT)
             END AS est_union
      FROM pair
    )
    SELECT CAST(FLOOR(e.n_inter * e.est_union / {KMV_K}.0) AS BIGINT)
             AS inter_estimate,
           (SELECT COUNT(DISTINCT v.user_id)
            FROM events v JOIN events p
              ON p.user_id = v.user_id AND p.event_type = 'purchase'
            WHERE v.event_type = 'view') AS n_exact
    FROM est e
    """,
)
def q_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-INTERSECTION estimate — the operation HLL cannot do
    without inclusion-exclusion error blowup: |A∩B| ≈ J(A,B) × |A∪B|
    where the Jaccard is read off the sketches directly (fraction of
    the union's bottom-k that lies in both sides' bottom-k) and the
    union estimate is the standard (k-1)/r_k on the merged sketch.
    Distinct viewers ∩ purchasers over events, both the estimate and
    the exact truth oracle-pinned via the deterministic md5 hash.

    At 100 TB the two per-group sketches are KMV_K-element arrays —
    the pairwise combine is driver-trivial regardless of corpus size;
    this is the audience-overlap primitive (campaign reach, cohort
    intersection) run on rollup state instead of raw events."""
    from pyspark.sql import functions as F

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
    )
    hashed = ev.distinct().select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    ).distinct()
    sk = hashed.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, KMV_K).alias("mins")
    )
    a = sk.filter(F.col("event_type") == "view").select(
        F.col("mins").alias("ma")
    )
    b = sk.filter(F.col("event_type") == "purchase").select(
        F.col("mins").alias("mb")
    )
    pair = a.crossJoin(F.broadcast(b)).select(
        "ma",
        "mb",
        F.slice(
            F.array_sort(F.array_union("ma", "mb")), 1, KMV_K
        ).alias("mu"),
    )
    est = pair.select(
        F.size(
            F.array_intersect(F.array_intersect("ma", "mb"), F.col("mu"))
        ).alias("n_inter"),
        F.when(F.size("mu") < KMV_K, F.size("mu").cast("long"))
        .otherwise(
            F.floor(
                F.lit(KMV_K - 1)
                / (
                    F.element_at("mu", KMV_K).cast("double")
                    / F.lit(float(2**60))
                )
            ).cast("long")
        )
        .alias("est_union"),
    )
    exact = (
        ev.filter("event_type = 'view'")
        .select("user_id")
        .intersect(ev.filter("event_type = 'purchase'").select("user_id"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.floor(F.col("n_inter") * F.col("est_union") / F.lit(float(KMV_K)))
        .cast("long")
        .alias("inter_estimate"),
        "n_exact",
    )


@register(
    "q_sketch_theta_setops",
    oracle="""
    WITH o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM o UNION SELECT o_custkey FROM f)) AS BIGINT) AS exact_union,
           CAST((SELECT COUNT(*) FROM o WHERE o_custkey IN (SELECT o_custkey FROM f)) AS BIGINT) AS exact_inter,
           CAST((SELECT COUNT(*) FROM o WHERE o_custkey NOT IN (SELECT o_custkey FROM f)) AS BIGINT) AS exact_diff,
           true AS union_within_5pct,
           true AS inter_within_5pct,
           true AS diff_within_5pct
    """,
)
def q_sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches via Spark 4's
    theta_sketch_agg / theta_union / theta_intersection /
    theta_difference): the FULL set algebra HLL cannot do — estimate
    union, intersection AND difference of the open-order vs
    fulfilled-order customer sets from two per-segment sketches,
    certificated within 5% of the exact counts (computed in the same
    query; the oracle pins the exact side).

    100 TB: audience-overlap / churn questions ("customers in segment
    A but not B") normally need an expensive distinct self-join;
    theta sketches answer them from KB-sized per-segment state that
    merges associatively across shards and days — the production
    replacement for the KMV demonstration (q_sketch_kmv_intersect)."""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    sk = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_orderstatus")
        .agg(F.expr("theta_sketch_agg(o_custkey)").alias("sk"))
    )
    o = sk.filter("o_orderstatus = 'O'").select(F.col("sk").alias("sk_o"))
    f = sk.filter("o_orderstatus = 'F'").select(F.col("sk").alias("sk_f"))
    ests = o.crossJoin(f).select(
        F.expr("theta_sketch_estimate(theta_union(sk_o, sk_f))").alias("e_u"),
        F.expr(
            "theta_sketch_estimate(theta_intersection(sk_o, sk_f))"
        ).alias("e_i"),
        F.expr(
            "theta_sketch_estimate(theta_difference(sk_o, sk_f))"
        ).alias("e_d"),
    )
    oc = orders.filter("o_orderstatus = 'O'").select("o_custkey").distinct()
    fc = orders.filter("o_orderstatus = 'F'").select("o_custkey").distinct()
    exact = (
        oc.unionByName(fc)
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_union"))
        .crossJoin(
            oc.join(fc, "o_custkey", "left_semi").agg(
                F.count(F.lit(1)).alias("exact_inter")
            )
        )
        .crossJoin(
            oc.join(fc, "o_custkey", "left_anti").agg(
                F.count(F.lit(1)).alias("exact_diff")
            )
        )
    )
    within = lambda est, ex: (  # noqa: E731 — local readability
        F.abs(F.col(est) - F.col(ex)) <= 0.05 * F.greatest(F.col(ex), F.lit(1))
    )
    return exact.crossJoin(ests).select(
        "exact_union",
        "exact_inter",
        "exact_diff",
        within("e_u", "exact_union").alias("union_within_5pct"),
        within("e_i", "exact_inter").alias("inter_within_5pct"),
        within("e_d", "exact_diff").alias("diff_within_5pct"),
    )


@register(
    "q_sketch_kll_quantiles",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           true AS p50_rank_ok,
           true AS p90_rank_ok,
           true AS merged_matches_direct
    FROM orders
    """,
)
def q_sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via Spark
    4's kll_sketch_agg_double / kll_sketch_merge_double): per-month
    sketches of order totals merge into a global sketch WITHOUT
    re-reading rows, and the merged p50/p90 estimates must sit within
    KLL's rank-error bound of the true ranks (±3 % rank at the default
    k — certified by computing the estimated value's EXACT rank in the
    same query). A direct single-pass sketch must agree with the
    merged one the same way.

    100 TB: percentile dashboards over petabyte fact tables keep one
    KB-scale sketch per partition/day and merge on demand — the
    quantile analog of the HLL rollup (q_sketch_hll_rolling)."""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders").select(
        F.month("o_orderdate").alias("mon"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    shards = orders.groupBy("mon").agg(
        F.expr("kll_sketch_agg_double(price)").alias("sk")
    )
    merged = shards.agg(
        F.expr(
            "kll_sketch_get_quantile_double("
            "kll_merge_agg_double(sk), array(0.5D, 0.9D))"
        ).alias("qs")
    ).select(
        F.element_at("qs", 1).alias("m50"), F.element_at("qs", 2).alias("m90")
    )
    direct = orders.agg(
        F.expr(
            "kll_sketch_get_quantile_double("
            "kll_sketch_agg_double(price), array(0.5D, 0.9D))"
        ).alias("qs")
    ).select(
        F.element_at("qs", 1).alias("d50"), F.element_at("qs", 2).alias("d90")
    )
    est = merged.crossJoin(direct)
    ranks = orders.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("price") <= F.col("m50"), 1).otherwise(0)).alias(
            "r50"
        ),
        F.sum(F.when(F.col("price") <= F.col("m90"), 1).otherwise(0)).alias(
            "r90"
        ),
        F.first("m50").alias("m50"),
        F.first("d50").alias("d50"),
        F.first("m90").alias("m90"),
        F.first("d90").alias("d90"),
    )
    rank_ok = lambda r, q: (  # noqa: E731 — local readability
        F.abs(F.col(r) / F.col("n_rows") - q) <= 0.03
    )
    return ranks.select(
        "n_rows",
        rank_ok("r50", 0.5).alias("p50_rank_ok"),
        rank_ok("r90", 0.9).alias("p90_rank_ok"),
        (
            (F.abs(F.col("m50") - F.col("d50"))
             <= 0.05 * F.abs(F.col("d50")))
            & (F.abs(F.col("m90") - F.col("d90"))
               <= 0.05 * F.abs(F.col("d90")))
        ).alias("merged_matches_direct"),
    )
