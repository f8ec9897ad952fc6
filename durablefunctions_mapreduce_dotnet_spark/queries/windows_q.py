"""Window-function surface: ranking, frames, lag/lead, running and moving
aggregates, distribution functions, sessionization (SURVEY.md §2.2
Window functions row).

Every window uses a total order (unique-id tie-break) and decimal sums
for FP frames, so results are deterministic and oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import global_distribution_rank, sessionize
from ..sources.readers import read_table


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price: the Top-K-per-group pattern
    (window + filter; Spark pushes the rank filter into the sort)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


_WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
         CAST(RANK() OVER w AS BIGINT) AS rnk,
         CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order history (cumulative frame,
    decimal sum for order-independent FP)."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double").alias("running_total"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)).alias(
            "micros_since_prev"
        ),
    )


_WINDOW_LAG_SQL = """
SELECT user_id, event_id, value,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS micros_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-event moving average of event value per user."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        (
            F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg"),
    )


_WINDOW_MOVING_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile/percent_rank/cume_dist WITHOUT a single-partition
    window: range-partitioned two-pass rank (operators.windows.
    global_distribution_rank) — same results as ``OVER (ORDER BY …)``,
    plan-asserted SinglePartition-free in tests/test_plans.py.

    The operator's evictable MEMORY_AND_DISK pin on the 2-column
    projection is deliberately NOT released here: the driver/bench
    harness evaluates the returned frame after this function exits, and
    the cached copy is LRU-evictable; loop callers needing deterministic
    release call ``session.release_pins`` after consuming the result."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_distribution_rank(o, ["o_totalprice", "o_orderkey"], ntile_k=4)
    return ranked.select("o_orderkey", "quartile", "pct_rank", "cume")


_WINDOW_DIST_SQL = """
SELECT o_orderkey,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per user, the rolling
    sum of the trailing hour of events — frame bounds in integer
    microseconds so the boundary comparison is exact."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("hour_sum"),
    )


_WINDOW_RANGE_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS hour_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) per user — session count and event count."""
    e = read_table(spark, sf_dir, "events")
    s = sessionize(e, gap_seconds=1800)
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id,
       CAST(SUM(is_new) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged GROUP BY user_id ORDER BY user_id
"""


def q_window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, runs of CONSECUTIVE active calendar
    days (the classic streak analytic — date minus row_number is
    constant within a run).  Per-user window over the deduped
    (user, day) frame — days-per-user sized, orders of magnitude under
    the event count — then two integer aggregations; no window ever
    touches the raw event stream."""
    e = read_table(spark, sf_dir, "events")
    d = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        d.withColumn("grp", F.date_sub(F.col("d"), F.row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.sum("run").cast("bigint").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_islands"),
            F.max("run").alias("longest_run"),
        )
        .orderBy("user_id")
    )


_GAPS_ISLANDS_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d FROM events
),
g AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM d
),
runs AS (SELECT user_id, grp, COUNT(*) AS run FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(run) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_islands,
       MAX(run) AS longest_run
FROM runs GROUP BY user_id ORDER BY user_id
"""


def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day per event_type — the growth
    curve every product dashboard tails, built the SCALABLE way: a
    running COUNT(DISTINCT) window rematerializes the user set per row,
    but first-touch attribution (min day per (type, user)) collapses
    the corpus to one row per user, then new-user counts per day ride a
    plain running integer sum.  Two hash aggregates + one tiny window —
    at 100 TB the only per-user state is the first-touch combiner."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    first = e.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", F.col("ts")).cast("date")).alias("d")
    )
    daily_new = first.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("event_type", "day")


_CUMULATIVE_UNIQUES_SQL = """
WITH first_touch AS (
  SELECT event_type, user_id, MIN(date_trunc('day', ts)::DATE) AS d
  FROM events GROUP BY event_type, user_id
),
daily_new AS (
  SELECT event_type, d, COUNT(*) AS new_users
  FROM first_touch GROUP BY event_type, d
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily_new ORDER BY event_type, day
"""


QUERIES = {
    "window_cumulative_uniques": q_cumulative_uniques,
    "window_gaps_islands": q_window_gaps_islands,
    "window_rank_topk": q_window_rank,
    "window_running_sum": q_window_running,
    "window_lag_lead": q_window_lag_lead,
    "window_moving_avg": q_window_moving_avg,
    "window_distribution": q_window_distribution,
    "window_range_frame": q_window_range_frame,
    "sessionization": q_sessionization,
}
ORACLES = {
    "window_cumulative_uniques": _CUMULATIVE_UNIQUES_SQL,
    "window_gaps_islands": _GAPS_ISLANDS_SQL,
    "window_range_frame": _WINDOW_RANGE_SQL,
    "window_rank_topk": _WINDOW_RANK_SQL,
    "window_running_sum": _WINDOW_RUNNING_SQL,
    "window_lag_lead": _WINDOW_LAG_SQL,
    "window_moving_avg": _WINDOW_MOVING_SQL,
    "window_distribution": _WINDOW_DIST_SQL,
    "sessionization": _SESSION_SQL,
}
