"""Coverage wave 30 ([EXT]): audience reach, movers reporting,
cross-sell mining.

- ``q_cumulative_reach`` — cumulative unique users by day (the
  audience-growth curve): per-user first-seen day (one hash agg) +
  a bounded day-grid join — never a running distinct over the event
  log.
- ``q_top_movers`` — the movers report: per (month, segment) revenue,
  month-over-month delta, top-10 by absolute move — lag windows over
  the month×segment rollup, deterministic tiebreaks.
- ``q_cross_sell_matrix`` — order-basket brand co-occurrence: brand
  pairs appearing in the same order, with support and lift. Baskets
  come from the lineitem⋈part join (brand is a 25-value dimension, so
  the per-order pair expansion is bounded by C(25,2) regardless of
  order size — distinct-before-pairing is the scale discipline).

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query


# ---------------------------------------------- cumulative reach


def _reach_partial(ev: DataFrame) -> DataFrame:
    """Per-user first-seen day — MIN merges across any row split."""
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return ev.select("user_id", day.alias("day")).groupBy("user_id").agg(
        F.min("day").alias("day")
    )


def _reach_finish(first_day: DataFrame) -> DataFrame:
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(wcum).alias("cumulative_users"),
    ).orderBy("day")


@query
def q_cumulative_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: new users and the cumulative unique-user count —
    first-seen days aggregate once, then one ordered cumsum over the
    ~|days| table."""
    return _reach_finish(_reach_partial(load_table(spark, sf, "events")))


Q_CUMULATIVE_REACH_SQL = """
WITH first_day AS (
  SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
  FROM events GROUP BY 1),
per_day AS (SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day ORDER BY day
"""


# ---------------------------------------------- top movers


@query
def q_top_movers(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 (month, segment) revenue moves by absolute MoM delta:
    month×segment decimal rollup (needs the customer dim broadcast),
    per-segment lag, rank by |Δ| with (month, segment) tiebreaks."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "c_mktsegment",
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("month")
    lagged = monthly.select(
        "month",
        "c_mktsegment",
        F.col("rev").cast("double").alias("revenue"),
        F.lag(F.col("rev").cast("double")).over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    return (
        lagged.select(
            "month",
            "c_mktsegment",
            F.round("revenue", 6).alias("revenue_r6"),
            F.round(F.col("revenue") - F.col("prev"), 6).alias("delta_r6"),
        )
        .orderBy(F.abs(F.col("delta_r6")).desc(), "month", "c_mktsegment")
        .limit(10)
    )


Q_TOP_MOVERS_SQL = """
WITH monthly AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month, c.c_mktsegment,
         SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2),
lagged AS (
  SELECT month, c_mktsegment,
         CAST(rev AS DOUBLE) AS revenue,
         LAG(CAST(rev AS DOUBLE)) OVER (PARTITION BY c_mktsegment ORDER BY month) AS prev
  FROM monthly)
SELECT month, c_mktsegment,
       ROUND(revenue, 6) AS revenue_r6,
       ROUND(revenue - prev, 6) AS delta_r6
FROM lagged WHERE prev IS NOT NULL
ORDER BY ABS(ROUND(revenue - prev, 6)) DESC, month, c_mktsegment
LIMIT 10
"""


# ---------------------------------------------- cross-sell matrix


@query
def q_cross_sell_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Brand pairs co-purchased in the same order: support, both
    confidences, lift — the retail cross-sell feed. Distinct (order,
    brand) BEFORE pairing bounds the expansion at C(|brands|, 2) per
    order; the pair join is per-order, never corpus-quadratic."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = basket.select("l_orderkey").distinct().count()
    singles = basket.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_single"))
    a = basket.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = basket.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    na = singles.select(
        F.col("p_brand").alias("brand_a"), F.col("n_single").alias("n_a")
    )
    nb = singles.select(
        F.col("p_brand").alias("brand_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab").cast("double") * F.lit(float(n_orders)))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("lift_r9"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


Q_CROSS_SELL_MATRIX_SQL = """
WITH basket AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
singles AS (SELECT p_brand, COUNT(*) AS n_single FROM basket GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT brand_a, brand_b, n_ab, na.n_single AS n_a, nb.n_single AS n_b,
       ROUND((CAST(n_ab AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE))
             / (CAST(na.n_single AS DOUBLE) * CAST(nb.n_single AS DOUBLE)), 9) AS lift_r9
FROM pairs
JOIN singles na ON na.p_brand = brand_a
JOIN singles nb ON nb.p_brand = brand_b
ORDER BY n_ab DESC, brand_a, brand_b
LIMIT 20
"""
