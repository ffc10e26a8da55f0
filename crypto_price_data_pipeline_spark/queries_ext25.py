"""Coverage wave 25 ([EXT]): attribution, composed forecasting,
k-fold assignment audit.

- ``q_attribution`` — last-touch attribution: each purchase joins to
  the same user's most recent PRIOR click (the LOCF carry-forward
  window, not a self-join of the event log), reporting attributed /
  unattributed purchase counts and the click→purchase gap
  distribution. The marketing/causal bread-and-butter join shape.
- ``q_seasonal_forecast`` — 7 future days forecast as linear trend
  (exact decimal OLS moments over centered day index — the
  q_linear_trend subform) plus the day-of-week seasonal index
  (q_dow_seasonality's centered-MA residual means). The classical
  decomposition composed into an actual prediction, all inside the
  determinism contract (no exp/ln; one pass over events).
- ``q_kfold_assign`` — 5-fold cross-validation assignment audit:
  md5-hash fold ids (RNG-free, engine-portable), per-fold × language
  doc counts and token sums — the disjoint-and-complete check a
  training pipeline runs before launching k jobs.

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
from .session import materialize


# ------------------------------------------- last-touch attribution


@query
def q_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """One row: purchases attributed to a prior same-user click,
    unattributed purchases, and the attribution-gap stats. The carry
    uses last(ignorenulls) over the per-user (ts, event_id) order —
    one window pass, no event-log self-join."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "last_click_us",
        F.last(
            F.when(F.col("event_type") == "click", F.col("us")), ignorenulls=True
        ).over(w),
    )
    purchases = carried.where(F.col("event_type") == "purchase").select(
        (F.col("us") - F.col("last_click_us")).alias("gap_us")
    )
    return purchases.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("gap_us").isNotNull().cast("long")).alias("n_attributed"),
        F.sum(F.col("gap_us").isNull().cast("long")).alias("n_unattributed"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 3).alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


Q_ATTRIBUTION_SQL = """
WITH carried AS (
  SELECT event_type,
         epoch_us(ts) - LAST_VALUE(CASE WHEN event_type = 'click'
                                        THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gap_us
  FROM events)
SELECT COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN gap_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(SUM(CASE WHEN gap_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unattributed,
       ROUND(quantile_cont(gap_us, 0.5), 3) AS p50_gap_us,
       MAX(gap_us) AS max_gap_us
FROM carried WHERE event_type = 'purchase'
"""


# ------------------------------------------- composed forecast


@query
def q_seasonal_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """7 rows: (future day index 1..7, isodow, forecast_r9) — linear
    trend over the observed daily totals plus the dow seasonal index.

    Trend: exact-decimal OLS on (i − ī) where i is the day index — the
    FMA-safe subform, like q_linear_trend. Seasonal: per-isodow mean
    of (total − trend(i)) residuals. Forecast(i) = trend(i) +
    seasonal(dow(i)). Every stage after the day rollup runs on the
    ~|days| table; all arithmetic is decimal-exact or IEEE-safe on
    identical inputs.
    """
    ev = load_table(spark, sf, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.sum(_dec(F.col("value"))).alias("s"))
        .select(
            "d",
            F.col("s").cast("double").alias("y"),
            F.row_number()
            .over(Window.orderBy("d"))
            .cast("long")
            .alias("i"),
        )
    )
    daily = daily.transform(materialize)
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").cast("double").alias("si"),
        F.sum(_dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(F.col("i") * F.col("i")).cast("double").alias("sii"),
        F.sum(_dec(F.col("i") * F.col("y"))).cast("double").alias("siy"),
        F.max("d").alias("dmax"),
    ).first()
    n = float(mo["n"])
    den = (mo["sii"] - mo["si"] * mo["si"] / n) if n else 0.0
    if den == 0.0:
        # empty or single-day series: no trend to fit
        return spark.createDataFrame(
            [], "h long, isodow long, forecast_r9 double"
        )
    slope = (mo["siy"] - mo["si"] * mo["sy"] / n) / den
    intercept = mo["sy"] / n - slope * (mo["si"] / n)
    trend = F.lit(intercept) + F.lit(slope) * F.col("i").cast("double")
    seasonal = (
        daily.select(
            (F.weekday("d") + F.lit(1)).cast("long").alias("isodow"),
            (F.col("y") - trend).alias("r"),
        )
        .groupBy("isodow")
        .agg(
            (F.sum(_dec(F.col("r"))).cast("double") / F.count(F.lit(1))).alias(
                "sz"
            )
        )
    )
    future = spark.createDataFrame(
        [(k,) for k in range(1, 8)], "k long"
    ).select(
        "k",
        F.date_add(F.lit(mo["dmax"]), F.col("k").cast("int")).alias("fd"),
        (F.lit(int(mo["n"])) + F.col("k")).alias("fi"),
    )
    out = future.select(
        "k",
        (F.weekday("fd") + F.lit(1)).cast("long").alias("isodow"),
        (
            F.lit(intercept) + F.lit(slope) * F.col("fi").cast("double")
        ).alias("tr"),
    ).join(F.broadcast(seasonal), "isodow", "left")
    return out.select(
        F.col("k").alias("h"),
        "isodow",
        F.round(F.col("tr") + F.coalesce(F.col("sz"), F.lit(0.0)), 9).alias(
            "forecast_r9"
        ),
    ).orderBy("h")


Q_SEASONAL_FORECAST_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(38,6))) AS s
  FROM events GROUP BY 1),
idx AS (
  SELECT d, CAST(s AS DOUBLE) AS y,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
  FROM daily),
mo AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(i) AS DOUBLE) AS si,
         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(i * i) AS DOUBLE) AS sii,
         CAST(SUM(CAST(i * y AS DECIMAL(38,6))) AS DOUBLE) AS siy,
         MAX(d) AS dmax
  FROM idx),
fit AS (
  SELECT n, dmax,
         (siy - si * sy / CAST(n AS DOUBLE)) / (sii - si * si / CAST(n AS DOUBLE)) AS slope,
         sy / CAST(n AS DOUBLE)
           - ((siy - si * sy / CAST(n AS DOUBLE)) / (sii - si * si / CAST(n AS DOUBLE)))
             * (si / CAST(n AS DOUBLE)) AS intercept
  FROM mo),
seasonal AS (
  SELECT CAST(isodow(d) AS BIGINT) AS isodow,
         CAST(SUM(CAST(y - (intercept + slope * CAST(i AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(*) AS sz
  FROM idx, fit GROUP BY 1),
future AS (
  SELECT k, dmax + CAST(k AS INT) AS fd, n + k AS fi
  FROM fit, (SELECT unnest(range(1, 8)) AS k))
SELECT CAST(k AS BIGINT) AS h,
       CAST(isodow(fd) AS BIGINT) AS isodow,
       ROUND((SELECT intercept FROM fit)
             + (SELECT slope FROM fit) * CAST(fi AS DOUBLE)
             + COALESCE((SELECT sz FROM seasonal s WHERE s.isodow = CAST(isodow(fd) AS BIGINT)), 0.0), 9)
         AS forecast_r9
FROM future ORDER BY h
"""


# ------------------------------------------- k-fold audit


@query
def q_kfold_assign(spark: SparkSession, sf: str) -> DataFrame:
    """5-fold assignment audit: fold = md5 nibble mod 5 (RNG-free,
    engine-portable), per (fold, lang): doc count and token sum. The
    disjoint-and-complete pre-launch check; folds rebalance only if
    the hash or corpus changes."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    return (
        docs.select(
            fold.alias("fold"), "lang", F.size(tokenize("text")).alias("n_tok")
        )
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("fold", "lang")
    )


Q_KFOLD_ASSIGN_SQL = r"""
SELECT ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 5 AS fold,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> ''))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2 ORDER BY 1, 2
"""
