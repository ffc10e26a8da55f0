"""Coverage wave 26 ([EXT]): order-sensitive streamed attribution,
distributed exact order statistics, two-sample distribution testing.

- ``q_stream_attribution`` — streamed last-touch attribution: the
  click→purchase carry crosses micro-batch boundaries, so each batch
  lands (a) gap rows for purchases attributed IN-batch, (b) orphan
  purchases (no prior in-batch click), and (c) the user's last click
  per chunk; the read side resolves each orphan against the latest
  earlier-chunk click. Chunks cut on time, so "earlier chunk" =
  "earlier in time" — the same precondition q_stream_bigrams pins.
  Streamed ≡ batch q_attribution, same oracle verbatim.
- ``q_exact_median_2pass`` — the EXACT k-th order statistic without a
  global sort: pass 1 range-buckets values (1024 buckets, one
  map-side-combined count), the driver walks 1024 scalars to find the
  bucket holding rank k, pass 2 sorts ONLY that bucket (~n/1024
  rows). The 100-TB path to exact medians; the oracle computes the
  same order statistic by brute ORDER BY/OFFSET.
- ``q_ks_statistic`` — two-sample Kolmogorov-Smirnov D between the
  click and purchase value distributions: pooled distinct values,
  cumulative per-sample counts, D = max |F̂₁ − F̂₂| with the earliest
  achieving value reported. The distribution-drift test next to
  q_embedding_drift / q_stream_vocab_drift.

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


# --------------------------------------- streamed attribution


def _attribution_partial(batch: DataFrame) -> dict[str, DataFrame]:
    """One batch's attribution state: gaps of the purchases attributed
    in the batch, the purchases with no earlier click in it (orphans),
    and each user's last click per chunk."""
    b = batch.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        day_chunk_expr().alias("chunk"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = b.withColumn(
        "last_click_us",
        F.last(
            F.when(F.col("event_type") == "click", F.col("us")),
            ignorenulls=True,
        ).over(w),
    )
    purchases = carried.where(F.col("event_type") == "purchase")
    return {
        "gaps": purchases.where(F.col("last_click_us").isNotNull()).select(
            (F.col("us") - F.col("last_click_us")).alias("gap_us")
        ),
        # event_id rides along so two same-instant purchases stay two
        # rows through the read-side groupBy
        "orphans": purchases.where(F.col("last_click_us").isNull()).select(
            "user_id", "event_id", "chunk", "us"
        ),
        "clicks": b.where(F.col("event_type") == "click")
        .groupBy("user_id", "chunk")
        .agg(F.max("us").alias("last_click_us")),
    }


@query(twin_of="q_attribution")
def q_stream_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_attribution (one summary row, same oracle). State
    per batch: attributed-gap rows + orphan purchases + per-(user,
    chunk) last click — all per-batch_id overwritten (replay-safe).
    The read-side stitch attributes each orphan to the max last-click
    over strictly earlier chunks (time-range chunks make that the
    true global predecessor). The batch query keeps its own single
    window: the stitch would add a join to it."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    state = stream_partials(
        spark, ev, day_chunk_expr(), _attribution_partial, "stream_attr_"
    )
    gaps, orphans, clicks = state["gaps"], state["orphans"], state["clicks"]
    resolved = (
        orphans.alias("o")
        .join(
            clicks.alias("c"),
            (F.col("o.user_id") == F.col("c.user_id"))
            & (F.col("c.chunk") < F.col("o.chunk")),
            "left",
        )
        .groupBy("o.user_id", "o.event_id", "o.chunk", "o.us")
        .agg(F.max("c.last_click_us").alias("prev_click_us"))
        .select((F.col("o.us") - F.col("prev_click_us")).alias("gap_us"))
    )
    all_gaps = gaps.unionByName(resolved)
    return all_gaps.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("gap_us").isNotNull().cast("long")).alias("n_attributed"),
        F.sum(F.col("gap_us").isNull().cast("long")).alias("n_unattributed"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 3).alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# --------------------------------------- 2-pass exact median


@query
def q_exact_median_2pass(spark: SparkSession, sf: str) -> DataFrame:
    """One row: (n, k, exact_median) — the k-th smallest event value
    (lower median), found by range-bucket counting + a single-bucket
    sort. Only the answer is contracted, so the oracle is free to
    brute-force it (ORDER BY … OFFSET); the bucketing is the Spark
    side's scale strategy, not part of the semantics."""
    ev = load_table(spark, sf, "events").select("value")
    lo, hi, n = ev.agg(F.min("value"), F.max("value"), F.count(F.lit(1))).first()
    if int(n) == 0:
        # empty series: no median
        return spark.createDataFrame([], "n long, k long, exact_median double")
    k = (int(n) + 1) // 2
    span = float(hi) - float(lo)
    if span <= 0.0:
        return spark.createDataFrame(
            [(int(n), k, float(lo))], "n long, k long, exact_median double"
        )
    nb = 1024
    bucket = F.least(
        F.lit(nb - 1),
        F.floor((F.col("value") - F.lit(float(lo))) * nb / F.lit(span)).cast(
            "int"
        ),
    )
    counts = {
        r["b"]: r["c"]
        for r in ev.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    acc = 0
    b_star, r_off = nb - 1, k
    for b in range(nb):
        c = counts.get(b, 0)
        if acc + c >= k:
            b_star, r_off = b, k - acc
            break
        acc += c
    wr = Window.orderBy("value")
    med = (
        ev.where(bucket == b_star)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == r_off)
        .first()["value"]
    )
    return spark.createDataFrame(
        [(int(n), k, float(med))], "n long, k long, exact_median double"
    )


Q_EXACT_MEDIAN_2PASS_SQL = """
WITH n AS (SELECT COUNT(*) AS n, (COUNT(*) + 1) // 2 AS k FROM events)
SELECT n.n AS n, CAST(n.k AS BIGINT) AS k,
       (SELECT value FROM events ORDER BY value
        LIMIT 1 OFFSET (SELECT k - 1 FROM n)) AS exact_median
FROM n
"""


# --------------------------------------- KS two-sample statistic


def _ks_partial(ev: DataFrame) -> DataFrame:
    """Per-value click and purchase counts: additive over any split of
    the rows, so stored partials merge with ``merge_sums(_, "value")``."""
    ev = ev.where(F.col("event_type").isin("click", "purchase"))
    return ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("ca"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("cb"),
    )


def _ks_finish(counts: DataFrame) -> DataFrame:
    """KS distance from the per-value counts: cumulative scan over the
    value domain, then the earliest value achieving the maximum. The
    sample totals are whole-frame windows in the same single partition
    as the scan, so no second pass over the counts."""
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = counts.select(
        "value",
        F.sum("ca").over(wcum).alias("cca"),
        F.sum("cb").over(wcum).alias("ccb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    scored = cum.select(
        "value",
        F.abs(
            F.col("cca").cast("double") / F.col("na").cast("double")
            - F.col("ccb").cast("double") / F.col("nb").cast("double")
        ).alias("d"),
        "na",
        "nb",
    )
    top = scored.orderBy(F.col("d").desc(), "value").limit(1)
    return top.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_purchase"),
        F.round("d", 9).alias("d_r9"),
        F.round("value", 6).alias("at_value_r6"),
    )


@query
def q_ks_statistic(spark: SparkSession, sf: str) -> DataFrame:
    """One row: (n_click, n_purchase, d_r9, at_value) — the
    two-sample KS distance between the click and purchase value
    distributions, evaluated on pooled distinct values (exact, tie-
    correct). Value-level compression (the groupBy) happens before
    the ordered cumulative window; at warehouse scale that window is
    the two-phase prefix sum (packing.py shape) over the compressed
    value domain."""
    return _ks_finish(_ks_partial(load_table(spark, sf, "events")))


Q_KS_STATISTIC_SQL = """
WITH ev AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('click', 'purchase')),
counts AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM ev GROUP BY 1),
tot AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM ev),
cum AS (
  SELECT value,
         CAST(SUM(ca) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cca,
         CAST(SUM(cb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccb
  FROM counts),
scored AS (
  SELECT value,
         ABS(CAST(cca AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(ccb AS DOUBLE) / CAST(nb AS DOUBLE)) AS d,
         na, nb
  FROM cum, tot)
SELECT na AS n_click, nb AS n_purchase,
       ROUND(d, 9) AS d_r9, ROUND(value, 6) AS at_value_r6
FROM scored ORDER BY d DESC, value LIMIT 1
"""
