"""Coverage wave 31 ([EXT]): survival analysis, cohort LTV, streamed
reach.

- ``q_survival_curve`` — user-lifetime survival: S(k) = fraction of
  users whose activity span (last day − first day) reaches k days,
  for k = 0..29. Per-user span is one hash agg; the curve is a
  30-row broadcast ladder against the span histogram — the
  retention/survival primitive under the (no-censoring) synthetic
  window.
- ``q_cohort_ltv`` — the LTV triangle: customers cohorted by first
  order month, cumulative revenue per cohort at each month-age —
  q_cohort_retention's money-valued sibling (counts → exact decimal
  revenue + running cumsum per cohort).
- ``q_stream_reach`` — streamed q_cumulative_reach: per-user
  first-seen day is MIN-mergeable state; per-batch partial minima
  merge on read and feed q_cumulative_reach's own day rollup. Same
  oracle verbatim.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query
from .streaming.partial_store import day_chunk_expr, stream_partials


# ---------------------------------------------- survival curve


def _survival_partial(ev: DataFrame) -> DataFrame:
    """Per-user first and last active day — MIN / MAX merge across any
    row split."""
    d = F.date_trunc("day", "ts").cast("date")
    return ev.select("user_id", d.alias("d")).groupBy("user_id").agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )


@query
def q_survival_curve(spark: SparkSession, sf: str) -> DataFrame:
    """30 rows: (k, n_surviving, survival_r9) — users whose span
    reaches k days. Span histogram (hash agg over users) × a 30-row
    broadcast ladder; no per-user expansion."""
    spans = _survival_partial(load_table(spark, sf, "events")).select(
        "user_id", F.datediff("dmax", "dmin").alias("span")
    )
    # histogram FIRST: the ladder joins against ≤|distinct spans| rows
    # (≤ the calendar window in days), never the per-user table — the
    # curve's cost is |users|-independent past the one user hash agg.
    hist = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_span"))
    ks = spark.createDataFrame([(k,) for k in range(30)], "k long")
    return _survival_ladder(
        hist.join(F.broadcast(ks), F.col("span") >= F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_span").alias("n_surviving"))
    )


def _survival_ladder(counts: DataFrame) -> DataFrame:
    """(k, n_surviving) → the curve. Every span is ≥ 0, so the user
    count is ``n_surviving`` at ``k = 0``, the largest in the ladder:
    a whole-frame max over the ≤ 30 rows, not a second pass over the
    spans."""
    n_users = F.max("n_surviving").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return counts.select(
        "k",
        "n_surviving",
        F.round(F.col("n_surviving").cast("double") / n_users.cast("double"), 9).alias(
            "survival_r9"
        ),
    ).orderBy("k")


Q_SURVIVAL_CURVE_SQL = """
WITH spans AS (
  SELECT user_id,
         date_diff('day', MIN(CAST(date_trunc('day', ts) AS DATE)),
                          MAX(CAST(date_trunc('day', ts) AS DATE))) AS span
  FROM events GROUP BY 1),
n AS (SELECT COUNT(*) AS n_users FROM spans),
ks AS (SELECT CAST(unnest(range(0, 30)) AS BIGINT) AS k)
SELECT k, COUNT(*) AS n_surviving,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST((SELECT n_users FROM n) AS DOUBLE), 9) AS survival_r9
FROM ks JOIN spans ON spans.span >= ks.k
GROUP BY k ORDER BY k
"""


# ---------------------------------------------- cohort LTV triangle


@query
def q_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """(cohort_month, age_months, n_customers, cum_revenue_r6): the
    LTV triangle. Cohort = first order month per customer (one hash
    agg, broadcast back); age = month difference; cumulative revenue
    is an ordered window over the cohort×age rollup (≤ months²
    rows)."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    month = F.date_format("o_orderdate", "yyyy-MM")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("cm")
    )
    cohort_sizes = first.groupBy(
        F.date_format("cm", "yyyy-MM").alias("cohort_month")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    joined = orders.join(F.broadcast(first), "o_custkey").select(
        F.date_format("cm", "yyyy-MM").alias("cohort_month"),
        (
            F.months_between(
                F.date_trunc("month", "o_orderdate").cast("date"), F.col("cm")
            )
        )
        .cast("long")
        .alias("age_months"),
        F.col("o_totalprice").cast("decimal(38,6)").alias("rev"),
    )
    cell = joined.groupBy("cohort_month", "age_months").agg(
        F.sum("rev").alias("rev")
    )
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.select(
            "cohort_month",
            "age_months",
            F.round(F.sum("rev").over(wcum).cast("double"), 6).alias(
                "cum_revenue_r6"
            ),
        )
        .join(F.broadcast(cohort_sizes), "cohort_month")
        .select("cohort_month", "age_months", "n_customers", "cum_revenue_r6")
        .orderBy("cohort_month", "age_months")
    )


Q_COHORT_LTV_SQL = """
WITH first AS (
  SELECT o_custkey, MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cm
  FROM orders GROUP BY 1),
sizes AS (
  SELECT strftime(cm, '%Y-%m') AS cohort_month, COUNT(*) AS n_customers
  FROM first GROUP BY 1),
joined AS (
  SELECT strftime(f.cm, '%Y-%m') AS cohort_month,
         CAST(date_diff('month', f.cm,
              CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS BIGINT) AS age_months,
         CAST(o.o_totalprice AS DECIMAL(38,6)) AS rev
  FROM orders o JOIN first f ON f.o_custkey = o.o_custkey),
cell AS (
  SELECT cohort_month, age_months, SUM(rev) AS rev
  FROM joined GROUP BY 1, 2),
cum AS (
  SELECT cohort_month, age_months,
         ROUND(CAST(SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
           AS cum_revenue_r6
  FROM cell)
SELECT c.cohort_month, c.age_months, s.n_customers, c.cum_revenue_r6
FROM cum c JOIN sizes s ON s.cohort_month = c.cohort_month
ORDER BY c.cohort_month, c.age_months
"""


# ---------------------------------------------- streamed reach


@query(twin_of="q_cumulative_reach")
def q_stream_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_cumulative_reach (same oracle): per-batch per-user
    MIN day partials are semilattice state; the read-side merge takes
    the global min per user, then q_cumulative_reach's own day rollup."""
    from .queries_ext30 import _reach_finish, _reach_partial

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    first = stream_partials(spark, ev, day_chunk_expr(), _reach_partial, "stream_reach_")
    return _reach_finish(first.groupBy("user_id").agg(F.min("day").alias("day")))
