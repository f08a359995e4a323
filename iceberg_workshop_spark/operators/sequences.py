"""Event-sequence & temporal analytics: gaps-and-islands, SCD Type 2
history build, next-event transition matrix, cumulative-distinct
users, exact heavy hitters.

The reference's events surface is scan+filter over a timestamp column
(`/root/reference/README.md:214-220`); these close the sequence-
analytic patterns a warehouse runs on the same shape. All five are
pure window/aggregate compositions — no Python in the hot path — and
every window is partitioned by a bounded key (user_id, custkey) so at
100 TB the state per partition stays small and Spark's window exec
never sorts more than one user's slice at a time.

Determinism (SURVEY.md §5.3): every window ORDER BY ends in a unique
key (event_id / o_orderkey); event timestamps are only ordered on or
day-truncated, never emitted raw (nanos-vs-micros representation
differs between engines); windowed/conditional integer SUMs are cast
to BIGINT (DuckDB widens to HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import FIXTURE_VIEWS, fixture_sql, load


def _sql(tpl: str) -> str:
    return tpl.format(**FIXTURE_VIEWS)


_ISLANDS = """
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_t
  FROM {events}
),
islands AS (
  SELECT user_id, event_type, rn - rn_t AS grp, COUNT(*) AS run_len
  FROM seq GROUP BY user_id, event_type, rn - rn_t
)
SELECT user_id,
       COUNT(*) AS n_runs,
       MAX(run_len) AS longest_run,
       CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS runs_ge3
FROM islands GROUP BY user_id ORDER BY user_id
"""


@register("q_win_gaps_islands", oracle=_sql(_ISLANDS))
def q_win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive same-event-type runs per user via
    the two-row-number difference trick, then run-length stats. Both
    windows share one (user_id)-hash shuffle; the island GROUP BY is
    all-integer so no float can flip a run boundary."""
    return fixture_sql(spark, sf_dir, _ISLANDS)


_SCD2 = """
WITH h AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM {orders}
),
chg AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM h WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey,
       o_orderstatus AS status,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey)
            AS valid_to,
       CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
            IS NULL THEN 1 ELSE 0 END AS is_current
FROM chg
ORDER BY o_custkey, valid_from, status
"""


@register("q_scd2_build", oracle=_sql(_SCD2))
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: collapse each
    customer's order-status stream into change rows with
    [valid_from, valid_to) validity and an is_current flag — the
    LAG-filter-LEAD idiom. Both windows reuse the same
    (custkey, orderdate, orderkey) sort, so Spark plans ONE shuffle +
    ONE sort for the whole history build; at 100 TB that is the
    minimum possible movement for this semantics."""
    return fixture_sql(spark, sf_dir, _SCD2)


_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM {events}
),
pairs AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       round(CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE),
             4) AS p
FROM pairs
ORDER BY event_type, next_type
"""


@register("q_win_transition_matrix", oracle=_sql(_TRANSITIONS))
def q_win_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: LEAD pairs each event with its successor, the pair counts
    normalize to row-stochastic probabilities. The transition count
    table is |types|² rows, so the normalizing window runs on a
    trivially small relation regardless of input scale."""
    return fixture_sql(spark, sf_dir, _TRANSITIONS)


_CUMULATIVE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS first_day
  FROM {events} GROUP BY user_id
),
daily AS (
  SELECT first_day, COUNT(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT first_day AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day) AS BIGINT) AS cum_users
FROM daily ORDER BY day
"""


@register("q_agg_cumulative_distinct", oracle=_sql(_CUMULATIVE))
def q_agg_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day via the first-seen rewrite:
    instead of a running COUNT(DISTINCT) (quadratic state), take each
    user's MIN(ts) day, count arrivals per day, prefix-sum. The prefix
    sum itself runs through ``prefix.prefix_sum`` (month-partitioned
    running window + broadcast per-month offsets) so the plan contains
    no single-partition WindowExec — the full rewrite turns an
    unbounded-distinct window into one groupBy + a partitioned window,
    the shape that stays computable at 100 TB."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.operators.prefix import prefix_sum

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("first_day"))
        .groupBy("first_day")
        .agg(F.count("*").alias("new_users"))
    )
    cum = prefix_sum(
        daily,
        F.date_trunc("month", "first_day"),
        ["first_day"],
        "new_users",
        "cum_users",
    )
    return cum.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.col("cum_users").cast("bigint").alias("cum_users"),
    ).orderBy("day")


_SESSIONIZE = """
WITH seq AS (
  SELECT user_id, ts, event_id, date_trunc('second', ts) AS tss,
         CASE WHEN {gap} IS NULL OR {gap} >= 1800 THEN 1 ELSE 0 END AS is_new
  FROM {events}
),
sess AS (
  SELECT user_id, tss,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
  FROM seq
),
per AS (
  SELECT user_id, sid, COUNT(*) AS n_ev, {dur} AS dur_sec
  FROM sess GROUP BY user_id, sid
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_ev) AS BIGINT) AS n_events,
       CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
       CAST(MAX(dur_sec) AS BIGINT) AS max_session_sec
FROM per GROUP BY user_id ORDER BY user_id
"""

_SESS_LAG = (
    "LAG(date_trunc('second', ts)) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id)"
)
_SESS_GAP_SPARK = f"timestampdiff(SECOND, {_SESS_LAG}, date_trunc('second', ts))"
_SESS_GAP_DUCK = f"date_diff('second', {_SESS_LAG}, date_trunc('second', ts))"
_SESS_DUR_SPARK = "timestampdiff(SECOND, MIN(tss), MAX(tss))"
_SESS_DUR_DUCK = "date_diff('second', MIN(tss), MAX(tss))"


@register(
    "q_win_sessionize",
    oracle=_SESSIONIZE.format(**FIXTURE_VIEWS, gap=_SESS_GAP_DUCK, dur=_SESS_DUR_DUCK),
)
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap — the
    batch twin of ``q_stream_session`` (session windows in Structured
    Streaming): flag a session start where the LAG gap is NULL or
    ≥ 1800 s, prefix-sum the flags into session ids, aggregate
    per-session then per-user. Both windows share the
    (user_id, ts, event_id) sort → ONE shuffle + sort for the whole
    sessionize; every window is partitioned by user_id, so 100 TB of
    history sessionizes with per-user state only. Endpoints are
    second-truncated BEFORE differencing so Spark's timestampdiff and
    DuckDB's date_diff agree on whole seconds (q_join_interval_overlap
    convention)."""
    return fixture_sql(
        spark,
        sf_dir,
        _SESSIONIZE.replace("{gap}", _SESS_GAP_SPARK).replace(
            "{dur}", _SESS_DUR_SPARK
        ),
    )


_HEAVY = """
WITH tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
             FROM {events}),
by_user AS (
  SELECT user_id, COUNT(*) AS cnt FROM {events} GROUP BY user_id
)
SELECT u.user_id, u.cnt,
       round(CAST(u.cnt AS DOUBLE) / CAST(t.n AS DOUBLE), 4) AS share
FROM by_user u, tot t
WHERE u.cnt * t.n_users * 5 > t.n * 6
ORDER BY u.cnt DESC, u.user_id
"""


@register("q_agg_heavy_hitters", oracle=_sql(_HEAVY))
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: users generating more than 1.2× the
    uniform share of events. The threshold is the integer inequality
    ``cnt * n_users * 5 > n * 6`` — scale-invariant and float-free at
    the selection boundary. One groupBy on user_id plus a broadcast
    2-value scalar; the approximate counterpart is q_agg_approx_cd's
    sketch family."""
    return fixture_sql(spark, sf_dir, _HEAVY)


_OVERLAP = """
WITH sess AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         date_trunc('second', MIN(ts)) AS s,
         date_trunc('second', MAX(ts)) AS e
  FROM {events} WHERE user_id % 7 = 0
  GROUP BY user_id, date_trunc('day', ts)
),
pairs AS (
  SELECT a.user_id AS u1, b.user_id AS u2,
         CASE WHEN LEAST(a.e, b.e) > GREATEST(a.s, b.s)
              THEN {diff}
              ELSE 0 END AS ov
  FROM sess a JOIN sess b ON a.day = b.day AND a.user_id < b.user_id
)
SELECT u1, u2,
       CAST(SUM(ov) AS BIGINT) AS overlap_sec,
       CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_overlapped
FROM pairs GROUP BY u1, u2
HAVING SUM(ov) > 0
ORDER BY overlap_sec DESC, u1, u2
LIMIT 100
"""

_DIFF_DUCK = "date_diff('second', GREATEST(a.s, b.s), LEAST(a.e, b.e))"
_DIFF_SPARK = "timestampdiff(SECOND, GREATEST(a.s, b.s), LEAST(a.e, b.e))"


@register("q_join_interval_overlap",
          oracle=_OVERLAP.format(**FIXTURE_VIEWS, diff=_DIFF_DUCK))
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user daily activity intervals
    [first event, last event], pairwise overlap seconds between users
    co-active on the same day. The join key is the *day* — an equi-join
    that shards the quadratic pair space per day (the banding trick of
    q_join_range_banded applied to interval intersection). Endpoints
    are second-truncated BEFORE differencing so Spark's timestampdiff
    and DuckDB's date_diff agree on whole seconds."""
    return fixture_sql(spark, sf_dir, _OVERLAP.replace("{diff}", _DIFF_SPARK))


_GAP_FILL = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM {events}),
users AS (SELECT DISTINCT user_id FROM {events} WHERE user_id % 11 = 0),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM {events} WHERE user_id % 11 = 0
  GROUP BY user_id, date_trunc('day', ts)
),
grid AS (
  SELECT u.user_id, d.day, dl.n,
         CASE WHEN dl.n IS NOT NULL THEN d.day END AS active_day
  FROM users u CROSS JOIN days d
  LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day
)
SELECT user_id, day,
       COALESCE(n, 0) AS n_events,
       {last_active} AS last_active_day
FROM grid
ORDER BY user_id, day
"""

_LA_SPARK = (
    "last(active_day, true) OVER (PARTITION BY user_id ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
_LA_DUCK = (
    "last_value(active_day IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


@register("q_win_gap_fill",
          oracle=_GAP_FILL.format(**FIXTURE_VIEWS, last_active=_LA_DUCK))
def q_win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a dense user×day grid (cross join of the
    observed day spine with a user sample), daily counts left-joined
    in, missing days carried forward with IGNORE NULLS last_value —
    the resample/forward-fill idiom. The spine is derived, tiny, and
    broadcast; the only real shuffle is the per-user daily aggregate.
    Forward-fill state is one value per user — constant window
    memory at any scale."""
    return fixture_sql(
        spark, sf_dir, _GAP_FILL.replace("{last_active}", _LA_SPARK)
    )


_ROLLING_DISTINCT = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM {events}),
user_days AS (
  SELECT DISTINCT date_trunc('day', ts) AS uday, user_id FROM {events}
)
SELECT d.day, COUNT(DISTINCT u.user_id) AS users_7d
FROM days d
JOIN user_days u
  ON u.uday <= d.day AND u.uday >= d.day - INTERVAL 6 DAY
GROUP BY d.day
ORDER BY d.day
"""


@register("q_win_rolling_distinct", oracle=_ROLLING_DISTINCT.format(**FIXTURE_VIEWS))
def q_win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. A rolling
    range-window COUNT(DISTINCT) has no bounded-state form, so the
    scalable rewrite pre-collapses the stream to distinct (user, day)
    pairs FIRST — shrinking the input from |events| to |users×days| —
    then bands each day against its 7-day window with an interval
    join. The quadratic part only ever sees the collapsed relation;
    at 100 TB that is the difference between re-scanning the stream
    per day and joining two small day-keyed tables."""
    return fixture_sql(spark, sf_dir, _ROLLING_DISTINCT)


_EWMA = """
WITH seq AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM {events}
),
weighted AS (
  SELECT a.user_id, a.rn AS rn_a,
         CAST(SUM(b.cents * CAST(POW(2, 15 - (a.rn - b.rn)) AS BIGINT))
              AS BIGINT) AS ws,
         CAST(SUM(CAST(POW(2, 15 - (a.rn - b.rn)) AS BIGINT))
              AS BIGINT) AS wd
  FROM seq a JOIN seq b
    ON b.user_id = a.user_id AND a.rn - b.rn BETWEEN 0 AND 15
  GROUP BY a.user_id, a.rn
),
last AS (SELECT user_id, MAX(rn) AS mrn FROM seq GROUP BY user_id)
SELECT w.user_id,
       CAST(l.mrn AS BIGINT) AS n_events,
       ROUND(CAST(w.ws AS DOUBLE) / (w.wd * 100), 4) AS ewma_last
FROM weighted w JOIN last l ON l.user_id = w.user_id AND w.rn_a = l.mrn
ORDER BY w.user_id
"""


@register("q_win_ewma", oracle=_sql(_EWMA))
def q_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 1/2) of each user's
    event values, reported at their latest event — the trend/decay
    smoother behind rate limiting, anomaly scoring, and feature decay.

    Integer-exact by construction: values in cents, dyadic weights
    2^(15−lag) over a 16-event tail (older terms contribute < 2^-16 —
    below the emitted rounding), everything BIGINT until one final
    double division — so both engines agree bit-for-bit, which a
    float-recursive EWMA never would. Plan: the banded self-join on
    (user, lag ≤ 15) shuffles once on user_id and each window tail
    stays within its user partition — at 100 TB this is a bounded-fan
    join, not a window over unbounded history."""
    return fixture_sql(spark, sf_dir, _EWMA)


_INTERP = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM {events} GROUP BY event_type, date_trunc('day', ts)
),
seq AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
marked AS (
  SELECT event_type, day, cents,
         CASE WHEN rn % 3 <> 0 THEN cents END AS kc,
         CASE WHEN rn % 3 <> 0 THEN day END AS kd
  FROM seq
),
nb AS (
  SELECT event_type, day, cents, kc,
         {prev_c} AS pc, {prev_d} AS pd,
         {next_c} AS nc, {next_d} AS nd
  FROM marked
),
interp AS (
  SELECT event_type, cents,
         (pc * ({dd_day_nd}) + nc * ({dd_pd_day})) {div} ({dd_pd_nd}) AS est
  FROM nb
  WHERE kc IS NULL AND pc IS NOT NULL AND nc IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_interp,
       CAST(MAX(abs(est - cents)) AS BIGINT) AS max_abs_err_cents,
       CAST(SUM(abs(est - cents)) AS BIGINT) AS sum_abs_err_cents
FROM interp GROUP BY event_type ORDER BY event_type
"""

_ITP_FRAME_PREV = (
    "OVER (PARTITION BY event_type ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
)
_ITP_FRAME_NEXT = (
    "OVER (PARTITION BY event_type ORDER BY day "
    "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
)


def _interp_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        last, first = "last({0}, true)", "first({0}, true)"
        dd = "datediff({1}, {0})"
    else:
        last, first = "last_value({0} IGNORE NULLS)", "first_value({0} IGNORE NULLS)"
        dd = "date_diff('day', {0}, {1})"
    return _INTERP.format(
        events="{events}",
        prev_c=last.format("kc") + " " + _ITP_FRAME_PREV,
        prev_d=last.format("kd") + " " + _ITP_FRAME_PREV,
        next_c=first.format("kc") + " " + _ITP_FRAME_NEXT,
        next_d=first.format("kd") + " " + _ITP_FRAME_NEXT,
        dd_day_nd=dd.format("day", "nd"),
        dd_pd_day=dd.format("pd", "day"),
        dd_pd_nd=dd.format("pd", "nd"),
        div="div" if spark_dialect else "//",
    )


@register("q_win_interpolate", oracle=_sql(_interp_sql(False)))
def q_win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation, self-certifying: drop every 3rd day of
    each event type's daily cents series (synthetic gaps with known
    truth), reconstruct each hole from its nearest KEPT neighbors with
    the integer-lerp ``(prev*(nd-day) + next*(day-pd)) div (nd-pd)``,
    and report reconstruction error vs the held-out actuals. The
    numerator is a sum of non-negative products, so truncating `div`
    (Spark) and flooring `//` (DuckDB) agree — the negative-operand
    divergence between the two is designed out. (Precondition: event
    values are non-negative, true of every fixture SF incl. sf1
    [0, 560.21]; a corpus with negative values would need an offset
    shift before the lerp to keep the engines' integer divisions in
    agreement.) All four IGNORE-NULLS
    neighbor lookups share one (event_type, day) sort → a single
    partitioned WindowExec; at 100 TB gap repair costs one window pass
    over the pre-aggregated daily rollup, never the raw events."""
    return fixture_sql(spark, sf_dir, _interp_sql(True))


_ANOMALY = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM {events}
),
w AS (
  SELECT user_id, cents,
         CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s1,
         CAST(SUM(cents * cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s2,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n
  FROM e
),
flags AS (
  SELECT user_id,
         CASE WHEN n >= 8 AND
                   (n * cents - s1) * (n * cents - s1) > 4 * (n * s2 - s1 * s1)
              THEN 1 ELSE 0 END AS anom
  FROM w
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(anom) AS BIGINT) AS n_anomalies
FROM flags GROUP BY user_id
HAVING SUM(anom) > 0
ORDER BY user_id
"""


@register("q_win_anomaly_zscore", oracle=_sql(_ANOMALY))
def q_win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection with ZERO floats: flag an
    event whose cents value sits more than 2 sigma from its own
    trailing-23-event baseline (current row excluded, >= 8 events of
    warm-up). The test ``z^2 > 4`` is cleared of divisions and square
    roots by multiplying through — ``(n*x - s1)^2 > 4*(n*s2 - s1^2)``
    over integer window sums — so Spark and DuckDB agree bit-for-bit
    where a float mean/stddev pipeline could not. The three window
    sums share one (user, ts, event_id) sort -> a single partitioned
    WindowExec with O(1) per-row state; at 100 TB anomaly screening is
    one shuffle by user."""
    return fixture_sql(spark, sf_dir, _ANOMALY)


_DRAWDOWN = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM {events}
),
cum AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS bal
  FROM e
),
dd AS (
  SELECT user_id, bal,
         CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS peak
  FROM cum
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(bal) AS BIGINT) AS peak_cents
FROM dd GROUP BY user_id ORDER BY user_id
"""


@register("q_win_drawdown", oracle=_sql(_DRAWDOWN))
def q_win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — peak-to-trough decline of the
    running cents balance, the risk metric every financial time-series
    store ships: running SUM for the balance, running MAX for the
    high-water mark, MAX(peak − balance) per user. All three windows
    and the final groupBy share one (user_id, ts, event_id) sort →
    ONE shuffle, O(1) window state per row; pure integer arithmetic
    end to end, so both engines agree exactly."""
    return fixture_sql(spark, sf_dir, _DRAWDOWN)


_CUSUM = """
WITH seq AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS k
  FROM {events}
),
tot AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total
  FROM seq GROUP BY user_id
),
cum AS (
  SELECT user_id, k,
         CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY k)
              AS BIGINT) AS cum
  FROM seq
),
stat AS (
  SELECT c.user_id, c.k,
         ABS(t.n * c.cum - c.k * t.total) AS g
  FROM cum c JOIN tot t ON t.user_id = c.user_id
  WHERE c.k < t.n
),
agg AS (
  SELECT user_id, CAST(MAX(g) AS BIGINT) AS g_stat
  FROM stat GROUP BY user_id
)
SELECT a.user_id,
       t.n AS n_events,
       t.total AS total_cents,
       a.g_stat,
       CAST(MIN(s.k) AS BIGINT) AS k_star
FROM agg a
JOIN tot t ON t.user_id = a.user_id
JOIN stat s ON s.user_id = a.user_id AND s.g = a.g_stat
GROUP BY a.user_id, t.n, t.total, a.g_stat
ORDER BY a.user_id
"""


@register("q_win_cusum", oracle=_sql(_CUSUM))
def q_win_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style change-point detection per user event series: the
    single most likely mean-shift split point. At each prefix k the
    centered statistic is |n·cum_k − k·total| (= n·k·|mean_{1..k} −
    mean_all| cross-multiplied into pure integers); the reported
    change point k* is the earliest position attaining the per-user
    maximum — binary segmentation's first step, the monitor a feature
    pipeline runs to catch level shifts in a metric stream.

    Shapes: one (user_id, ts, event_id) sort shared by the ranking and
    the cumulative-sum windows (both PARTITIONED by user), per-user
    totals as a grouped aggregate joined back on the narrow key, and
    the argmax via max-then-min-k joins rather than any global window.
    Integer cents end to end, so both engines agree bit-for-bit on
    statistic AND split position."""
    return fixture_sql(spark, sf_dir, _CUSUM)
