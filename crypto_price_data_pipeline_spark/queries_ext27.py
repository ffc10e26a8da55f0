"""Coverage wave 27 ([EXT]): fulfillment SLA, calendar heatmap,
audience composition — the operational-BI shapes every warehouse runs
daily.

- ``q_ship_lag_sla`` — fulfillment SLA per order month: ship-lag
  percentiles (rounded per determinism rule 8) and the ≤30-day
  fill-rate, from the orders⋈lineitem co-keyed join.
- ``q_calendar_heatmap`` — the isodow × hour activity matrix with
  share-of-total: the scheduling/load heatmap feed.
- ``q_new_vs_returning`` — daily audience composition: active users,
  first-seen-today (new), returning, and the new-share ratio — the
  acquisition-vs-retention dashboard primitive (per-user first-day is
  one hash agg, then a broadcast-sized join back).

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query


# ------------------------------------------- fulfillment SLA


@query
def q_ship_lag_sla(spark: SparkSession, sf: str) -> DataFrame:
    """Per order month: lineitem ship-lag days p50/p90 (r9) and the
    fraction shipped within 30 days. The join is the standard
    co-keyed orderkey shuffle; everything after is a month-keyed
    hash agg."""
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
    )
    return (
        lag.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 9).alias("p50_r9"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 9).alias("p90_r9"),
            F.round(
                F.sum((F.col("lag_days") <= 30).cast("long")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("fill_30d_r9"),
        )
        .orderBy("month")
    )


Q_SHIP_LAG_SLA_SQL = """
WITH lag AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT month, COUNT(*) AS n,
       ROUND(quantile_cont(lag_days, 0.5), 9) AS p50_r9,
       ROUND(quantile_cont(lag_days, 0.9), 9) AS p90_r9,
       ROUND(CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS fill_30d_r9
FROM lag GROUP BY month ORDER BY month
"""


# ------------------------------------------- calendar heatmap


@query
def q_calendar_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """isodow × hour event counts with share-of-total — one hash agg
    over a 168-key space plus a broadcast scalar for the share."""
    ev = load_table(spark, sf, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("long").alias("isodow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "isodow",
            "hour",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"), 9
            ).alias("share_r9"),
        )
        .orderBy("isodow", "hour")
    )


Q_CALENDAR_HEATMAP_SQL = """
WITH cells AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS isodow,
         CAST(hour(ts) AS BIGINT) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
SELECT isodow, hour, n,
       ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share_r9
FROM cells, tot ORDER BY isodow, hour
"""


# ------------------------------------------- audience composition


@query
def q_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: active users, new (first-seen today), returning, and
    the new share. Per-user first-day is one hash agg; the day table
    joins it broadcast-sized."""
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    active = ev.distinct()
    first_day = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    joined = active.join(F.broadcast(first_day), "user_id")
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias(
                "new_users"
            ),
        )
        .select(
            "day",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users")).alias(
                "returning_users"
            ),
            F.round(
                F.col("new_users").cast("double")
                / F.col("active_users").cast("double"),
                9,
            ).alias("new_share_r9"),
        )
        .orderBy("day")
    )


Q_NEW_VS_RETURNING_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events),
first_day AS (
  SELECT user_id, MIN(day) AS first_day FROM active GROUP BY 1),
joined AS (
  SELECT a.day, a.user_id, f.first_day
  FROM active a JOIN first_day f ON f.user_id = a.user_id)
SELECT day,
       COUNT(*) AS active_users,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       COUNT(*) - CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
       ROUND(CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS new_share_r9
FROM joined GROUP BY day ORDER BY day
"""
