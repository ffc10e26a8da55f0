"""Coverage wave 23 ([EXT]): interval sweep concurrency, rolling
correlation, weighted median, streamed diversity.

- ``q_peak_concurrency`` — the sweep-line primitive: each event holds
  an interval [ts, ts + value seconds]; +1/−1 boundary deltas are
  net-summed per instant and one ordered cumulative sum finds the
  peak simultaneous-interval count and when it first happens. The
  capacity-planning number (max concurrent sessions/jobs/streams).
- ``q_rolling_corr`` — 7-day rolling Pearson correlation between the
  click and purchase daily value series, assembled from exact decimal
  window sums via the FMA-safe subform ((sxy − sx·sy/n) /
  (√(sxx − sx²/n)·√(syy − sy²/n)) — NOTES determinism rule 4);
  degenerate windows (zero variance) are filtered identically in
  both engines.
- ``q_weighted_median`` — per-nation weighted median of customer
  lifetime spend, weighted by order count: the robust center the
  plain median misses when heavy users dominate. One per-nation
  ordered window (cumulative weight crossing half the total).
- ``q_stream_diversity`` — streamed Gini-Simpson language diversity:
  per-batch (source, lang, n) counts are additive state; the read
  side merges and runs q_diversity_index's own finish. Streamed ≡
  batch, same oracle verbatim.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalars import _dec
from .io.sources import load_table
from .registry import query
from .streaming.partial_store import merge_sums, stream_partials


# ------------------------------------------- peak concurrency


@query
def q_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """One row: peak concurrent intervals, first instant it occurs,
    interval count.

    Sweep-line: boundaries are net-summed PER INSTANT first (hash agg
    — the compression step), then the global running count comes from
    the two-phase distributed prefix sum, fully IN-PLAN: 256
    time-range buckets (monotone in t), per-bucket local cumsum
    windows in parallel, bucket offsets from a window over the
    ≤256-row per-bucket totals aggregate (the bounded-domain
    single-partition case the plan-hygiene gate permits), broadcast
    back. Long addition is associative ⇒ bit-identical to the naive
    global cumsum window, which would funnel every distinct instant
    (≈ rows at warehouse scale) through ONE task. Zero driver
    round-trips — interval count, time-domain stats, and offsets all
    ride broadcast 1-row/256-row aggregates in the same lazy plan.
    Durations are integer micros (value carries ≤6 decimals, so
    value·10⁶ is exact).
    """
    ev = load_table(spark, sf, "events").select(
        F.unix_micros("ts").alias("t0"),
        (F.unix_micros("ts") + (F.col("value") * 1_000_000).cast("long")).alias(
            "t1"
        ),
    )
    n_iv = ev.agg(F.count(F.lit(1)).alias("_n_intervals"))
    bounds = ev.select(F.col("t0").alias("t"), F.lit(1).alias("d")).unionByName(
        ev.select(F.col("t1").alias("t"), F.lit(-1).alias("d"))
    )
    net = bounds.groupBy("t").agg(F.sum("d").alias("nd"))
    stats = net.agg(F.min("t").alias("_lo"), F.max("t").alias("_hi"))
    w = (F.col("_hi") - F.col("_lo")).cast("double") / F.lit(256.0)
    width = F.when(w == 0.0, F.lit(1.0)).otherwise(w)
    bucketed = net.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.least(
            F.floor((F.col("t") - F.col("_lo")).cast("double") / width),
            F.lit(255),
        ).cast("long"),
    )
    totals = bucketed.groupBy("_bkt").agg(F.sum("nd").alias("_bt"))
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_bkt", F.coalesce(F.sum("_bt").over(woff), F.lit(0)).alias("_off")
    )
    wloc = Window.partitionBy("_bkt").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = (
        bucketed.withColumn("_loc", F.sum("nd").over(wloc))
        .join(F.broadcast(offs), "_bkt")
        .select("t", (F.col("_loc") + F.col("_off")).cast("long").alias("cur"))
    )
    peak = swept.orderBy(F.col("cur").desc(), "t").limit(1)
    return peak.crossJoin(F.broadcast(n_iv)).select(
        F.col("cur").alias("peak_concurrency"),
        F.col("t").alias("at_us"),
        F.col("_n_intervals").cast("long").alias("n_intervals"),
    )


Q_PEAK_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT epoch_us(ts) AS t0,
         epoch_us(ts) + CAST(value * 1000000 AS BIGINT) AS t1
  FROM events),
bounds AS (
  SELECT t0 AS t, 1 AS d FROM iv
  UNION ALL
  SELECT t1 AS t, -1 AS d FROM iv),
net AS (SELECT t, CAST(SUM(d) AS BIGINT) AS nd FROM bounds GROUP BY 1),
swept AS (
  SELECT t, CAST(SUM(nd) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
  FROM net)
SELECT cur AS peak_concurrency, t AS at_us,
       (SELECT COUNT(*) FROM iv) AS n_intervals
FROM swept ORDER BY cur DESC, t LIMIT 1
"""


# ------------------------------------------- rolling correlation


@query
def q_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """7-day rolling Pearson r between daily click and purchase value
    totals. Day rollup is the only corpus-scale stage; the rolling
    window rides the ~|days| table. Decimal partial sums keep the
    window aggregates exact; the correlation assembles in the
    FMA-safe subform and degenerate windows are dropped by an
    identical predicate in both engines."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(
            _dec(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0))
        ).alias("x"),
        F.sum(
            _dec(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            )
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("x")).over(w).cast("double").alias("sx"),
        F.sum(F.col("y")).over(w).cast("double").alias("sy"),
        F.sum(_dec(F.col("x") * F.col("x"))).over(w).cast("double").alias("sxx"),
        F.sum(_dec(F.col("y") * F.col("y"))).over(w).cast("double").alias("syy"),
        F.sum(_dec(F.col("x") * F.col("y"))).over(w).cast("double").alias("sxy"),
    ).where(F.col("n") == 7)
    nn = F.col("n").cast("double")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    vy = F.col("syy") - F.col("sy") * F.col("sy") / nn
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nn
    return (
        win.where((vx > 0) & (vy > 0))
        .select(
            "day",
            F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 9).alias("corr_r9"),
        )
        .orderBy("day")
    )


Q_ROLLING_CORR_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS x,
         SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS y
  FROM events GROUP BY 1),
win AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS DOUBLE) AS sx,
         CAST(SUM(y) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT day,
       ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
             / (sqrt(sxx - sx * sx / CAST(n AS DOUBLE))
                * sqrt(syy - sy * sy / CAST(n AS DOUBLE))), 9) AS corr_r9
FROM win
WHERE n = 7
  AND (sxx - sx * sx / CAST(n AS DOUBLE)) > 0
  AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0
ORDER BY day
"""


# ------------------------------------------- weighted median


@query
def q_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation weighted median of customer lifetime spend (weight =
    order count): the first customer, in (spend, custkey) order, whose
    cumulative weight reaches half the nation's total. One per-nation
    ordered window over the already-aggregated customer table."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("x"),
            F.count(F.lit(1)).alias("w"),
        )
    )
    wcum = (
        Window.partitionBy("c_nationkey")
        .orderBy("x", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("c_nationkey")
    ranked = spend.select(
        "c_nationkey",
        "x",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
        F.count(F.lit(1)).over(wtot).alias("n_cust"),
    )
    crossed = ranked.where(F.col("cw") * 2 >= F.col("tw"))
    wfirst = Window.partitionBy("c_nationkey").orderBy("cw", "x")
    return (
        crossed.withColumn("rn", F.row_number().over(wfirst))
        .where(F.col("rn") == 1)
        .select(
            "c_nationkey",
            "n_cust",
            F.col("tw").alias("total_weight"),
            F.col("x").cast("double").alias("weighted_median_spend"),
        )
        .orderBy("c_nationkey")
    )


Q_WEIGHTED_MEDIAN_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS x,
         COUNT(*) AS w
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT c_nationkey, x,
         CAST(SUM(w) OVER (PARTITION BY c_nationkey ORDER BY x, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY c_nationkey) AS BIGINT) AS tw,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_cust
  FROM spend),
crossed AS (
  SELECT c_nationkey, x, cw, tw, n_cust,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cw, x) AS rn
  FROM ranked WHERE cw * 2 >= tw)
SELECT c_nationkey, n_cust, tw AS total_weight,
       CAST(x AS DOUBLE) AS weighted_median_spend
FROM crossed WHERE rn = 1 ORDER BY c_nationkey
"""


# ------------------------------------------- streamed diversity


@query(twin_of="q_diversity_index")
def q_stream_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed Gini-Simpson diversity: per-batch (source, lang, n)
    counts are additive semigroup state (per-batch_id overwrite →
    replay-idempotent); the read side sums them and runs
    q_diversity_index's own finish (same oracle)."""
    from .queries_ext20 import _diversity_finish, _diversity_partial

    docs = load_table(spark, sf, "documents").select("doc_id", "source", "lang")
    counts = stream_partials(
        spark, docs, F.col("doc_id") % 3, _diversity_partial, "stream_div_"
    )
    return _diversity_finish(merge_sums(counts, "source", "lang"))
