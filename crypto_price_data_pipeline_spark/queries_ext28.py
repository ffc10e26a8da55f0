"""Coverage wave 28 ([EXT]): streamed distribution testing, purchase
cycles, growth reporting, engagement stickiness.

- ``q_stream_ks`` — streamed two-sample KS: per-value per-sample
  counts are additive semigroup state (per-batch_id overwrite), so
  the read side sums them and runs q_ks_statistic's own finish.
  Streamed ≡ batch q_ks_statistic, same oracle verbatim.
- ``q_repeat_purchase_cycle`` — purchase-cycle analytics: per-user
  consecutive-purchase gaps (lag over the per-user order), repeat-
  buyer count, and the cycle-length percentiles the
  replenishment/retention models consume.
- ``q_mom_growth`` — month-over-month revenue growth: monthly exact
  decimal revenue, lag window, growth ratio (guarded against a zero
  prior month identically in both engines).
- ``q_dau_mau_stickiness`` — DAU / trailing-30-day-MAU per day: the
  engagement stickiness ratio. MAU is an interval join (day grid ×
  per-day active users, bounded 30-day width) + distinct count — the
  exact rolling-distinct shape; swap in HLL sketch state at 100 TB.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query
from .queries_ext26 import _ks_finish, _ks_partial
from .streaming.partial_store import day_chunk_expr, merge_sums, stream_partials


# ------------------------------------------------ streamed KS


@query(twin_of="q_ks_statistic")
def q_stream_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_ks_statistic (same oracle): per-batch (value, ca,
    cb) counts merge by addition; the final cumulative scan runs on
    the merged value domain."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "event_type", "value")
    counts = stream_partials(spark, ev, day_chunk_expr(), _ks_partial, "stream_ks_")
    return _ks_finish(merge_sums(counts, "value"))


# ------------------------------------------- repeat purchase cycle


@query
def q_repeat_purchase_cycle(spark: SparkSession, sf: str) -> DataFrame:
    """One row: buyers, repeat buyers, repeat gaps count, and the
    cycle-length percentiles (days, r9 per determinism rule 8 —
    day-scale values). Per-customer lag over (orderdate, orderkey) —
    one partitioned window, no self-join."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    buyers = orders.select("o_custkey").distinct().count()
    g = gaps.where(F.col("gap_days").isNotNull())
    return g.agg(
        F.lit(buyers).cast("long").alias("n_buyers"),
        F.countDistinct("o_custkey").alias("n_repeat_buyers"),
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_days, 0.5)"), 9).alias("p50_cycle_r9"),
        F.round(F.expr("percentile(gap_days, 0.9)"), 9).alias("p90_cycle_r9"),
    )


Q_REPEAT_PURCHASE_CYCLE_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders),
g AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_buyers,
       COUNT(DISTINCT o_custkey) AS n_repeat_buyers,
       COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_days, 0.5), 9) AS p50_cycle_r9,
       ROUND(quantile_cont(gap_days, 0.9), 9) AS p90_cycle_r9
FROM g
"""


# ------------------------------------------------ MoM growth


@query
def q_mom_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month revenue growth: exact decimal monthly revenue,
    one ordered lag over the ~|months| table, ratio guarded on a
    positive prior month identically in both engines."""
    orders = load_table(spark, sf, "orders").select("o_orderdate", "o_totalprice")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
    w = Window.orderBy("month")
    out = monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        F.lag(F.col("rev").cast("double")).over(w).alias("prev"),
    )
    return out.select(
        "month",
        F.round("revenue", 6).alias("revenue_r6"),
        F.when(
            F.col("prev") > 0,
            F.round(
                (F.col("revenue") - F.col("prev")) / F.col("prev"), 9
            ),
        ).alias("mom_growth_r9"),
    ).orderBy("month")


Q_MOM_GROWTH_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders GROUP BY 1),
lagged AS (
  SELECT month, CAST(rev AS DOUBLE) AS revenue,
         LAG(CAST(rev AS DOUBLE)) OVER (ORDER BY month) AS prev
  FROM monthly)
SELECT month,
       ROUND(revenue, 6) AS revenue_r6,
       CASE WHEN prev > 0
            THEN ROUND((revenue - prev) / prev, 9) END AS mom_growth_r9
FROM lagged ORDER BY month
"""


# ------------------------------------------- DAU/MAU stickiness


@query
def q_dau_mau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: DAU, trailing-30-day MAU, stickiness = DAU/MAU. The
    MAU side is a bounded interval join (|days| × active pairs within
    a 30-day band) + distinct count — exact rolling distinct; at
    100 TB swap the state for mergeable HLL sketches per day."""
    ev = load_table(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    )
    active = ev.distinct()
    days = active.select("d").distinct()
    dau = active.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    pairs = days.alias("g").join(
        active.alias("a"),
        (F.col("a.d") <= F.col("g.d"))
        & (F.col("a.d") >= F.date_sub(F.col("g.d"), 29)),
    )
    mau = pairs.groupBy(F.col("g.d").alias("d")).agg(
        F.countDistinct("a.user_id").alias("mau")
    )
    return (
        dau.join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"), 9
            ).alias("stickiness_r9"),
        )
        .orderBy("day")
    )


Q_DAU_MAU_STICKINESS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events),
days AS (SELECT DISTINCT d FROM active),
dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1),
mau AS (
  SELECT g.d, COUNT(DISTINCT a.user_id) AS mau
  FROM days g JOIN active a
    ON a.d <= g.d AND a.d >= g.d - INTERVAL 29 DAY
  GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau AS dau, mau.mau AS mau,
       ROUND(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 9) AS stickiness_r9
FROM dau JOIN mau ON mau.d = dau.d
ORDER BY day
"""
