"""Coverage wave 29 ([EXT]): fairness auditing, curation tuning,
revenue concentration.

- ``q_fairness_audit`` — the model-governance disparity check on a
  rate metric: per-group (market segment as the audited attribute)
  purchase-ish rate, its ratio to the overall rate, and the
  disparate-impact ratio (min rate / max rate — the 80%-rule
  statistic). Rational arithmetic end-to-end.
- ``q_yield_curve`` — the curation-threshold sweep: for a ladder of
  distinct-token-ratio cutoffs, how many docs and tokens survive —
  the artifact that picks a quality bar by data volume instead of
  vibes. One corpus scan; the 5-threshold expansion is a tiny
  broadcast cross join.
- ``q_percentile_contribution`` — concentration at the tail: the
  revenue share of orders above the p90 order value (plus the
  thresholds), complementing Gini/ABC with a percentile-anchored
  statistic.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query


# ------------------------------------------------ fairness audit


@query
def q_fairness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Per customer segment: order participation rate (customers with
    ≥1 order / customers), ratio to the overall rate, and the
    min/max disparity ratio replicated on every row (the 80%-rule
    scalar). Two hash aggregates + broadcast scalars."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf, "orders").select("o_custkey").distinct()
    flagged = cust.join(
        orders.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "has_order", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).select("c_mktsegment", F.coalesce("has_order", F.lit(0)).alias("has_order"))
    seg = flagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("has_order").cast("long").alias("n_with_orders"),
    )
    seg = seg.withColumn(
        "rate",
        F.col("n_with_orders").cast("double") / F.col("n_customers").cast("double"),
    )
    overall = flagged.agg(
        (F.sum("has_order").cast("double") / F.count(F.lit(1))).alias("orate")
    )
    bounds = seg.agg(
        F.min("rate").alias("min_rate"), F.max("rate").alias("max_rate")
    )
    return (
        seg.crossJoin(F.broadcast(overall))
        .crossJoin(F.broadcast(bounds))
        .select(
            "c_mktsegment",
            "n_customers",
            "n_with_orders",
            F.round("rate", 9).alias("rate_r9"),
            # zero-order populations: the ratios are undefined -> NULL
            # (no-op whenever anyone anywhere has an order)
            F.when(
                F.col("orate") > 0, F.round(F.col("rate") / F.col("orate"), 9)
            ).alias("vs_overall_r9"),
            F.when(
                F.col("max_rate") > 0,
                F.round(F.col("min_rate") / F.col("max_rate"), 9),
            ).alias("disparate_impact_r9"),
        )
        .orderBy("c_mktsegment")
    )


Q_FAIRNESS_AUDIT_SQL = """
WITH flagged AS (
  SELECT c.c_mktsegment,
         CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              THEN 1 ELSE 0 END AS has_order
  FROM customer c),
seg AS (
  SELECT c_mktsegment, COUNT(*) AS n_customers,
         CAST(SUM(has_order) AS BIGINT) AS n_with_orders,
         CAST(SUM(has_order) AS DOUBLE) / COUNT(*) AS rate
  FROM flagged GROUP BY 1),
overall AS (
  SELECT CAST(SUM(has_order) AS DOUBLE) / COUNT(*) AS orate FROM flagged),
bounds AS (SELECT MIN(rate) AS min_rate, MAX(rate) AS max_rate FROM seg)
SELECT c_mktsegment, n_customers, n_with_orders,
       ROUND(rate, 9) AS rate_r9,
       ROUND(rate / (SELECT orate FROM overall), 9) AS vs_overall_r9,
       ROUND((SELECT min_rate FROM bounds) / (SELECT max_rate FROM bounds), 9)
         AS disparate_impact_r9
FROM seg ORDER BY c_mktsegment
"""


# ------------------------------------------------ yield curve

_YIELD_THRESHOLDS = (0.0, 0.2, 0.4, 0.6, 0.8)


@query
def q_yield_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Docs/tokens surviving each distinct-token-ratio cutoff (keep
    docs whose distinct/total ratio ≥ thr — low ratio = repetitive).
    One scan computes the per-doc signal; the threshold ladder is a
    5-row broadcast cross join, so the sweep costs one corpus pass
    regardless of ladder size."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tok, F.lit(1)
    ).cast("double")
    scored = docs.select(n_tok.alias("n_tok"), ratio.alias("ratio"))
    thr = spark.createDataFrame(
        [(t,) for t in _YIELD_THRESHOLDS], "thr double"
    )
    total = scored.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )
    swept = scored.crossJoin(F.broadcast(thr)).where(F.col("ratio") >= F.col("thr"))
    return (
        swept.groupBy("thr")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "thr",
            "docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept").cast("double")
                / F.col("total_tokens").cast("double"),
                9,
            ).alias("token_yield_r9"),
        )
        .orderBy("thr")
    )


Q_YIELD_CURVE_SQL = r"""
WITH scored AS (
  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                            t -> t <> ''))) AS DOUBLE)
           / GREATEST(CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                           t -> t <> '')) AS BIGINT), 1) AS ratio
  FROM documents),
thr AS (SELECT CAST(unnest([0.0, 0.2, 0.4, 0.6, 0.8]) AS DOUBLE) AS thr),
total AS (SELECT COUNT(*) AS total_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM scored)
SELECT thr,
       COUNT(*) AS docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) / (SELECT CAST(total_tokens AS DOUBLE) FROM total), 9)
         AS token_yield_r9
FROM scored, thr WHERE ratio >= thr
GROUP BY thr ORDER BY thr
"""


# --------------------------------------- percentile contribution


@query
def q_percentile_contribution(spark: SparkSession, sf: str) -> DataFrame:
    """One row: p90 order-value threshold, the order count above it,
    and the revenue share those tail orders carry — the percentile-
    anchored concentration statistic. Exact interpolated percentile
    (rounded per rule 8) broadcast back as a scalar predicate."""
    orders = load_table(spark, sf, "orders").select("o_totalprice")
    thr = orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 9).alias("p90")
    )
    joined = orders.crossJoin(F.broadcast(thr))
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.first("p90").alias("p90_threshold_r9"),
        F.sum((F.col("o_totalprice") >= F.col("p90")).cast("long")).alias(
            "n_tail_orders"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("o_totalprice") >= F.col("p90"), F.col("o_totalprice")
                )
                .otherwise(F.lit(0))
                .cast("decimal(38,6)")
            ).cast("double")
            / F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"),
            9,
        ).alias("tail_revenue_share_r9"),
    )


Q_PERCENTILE_CONTRIBUTION_SQL = """
WITH thr AS (
  SELECT ROUND(quantile_cont(o_totalprice, 0.9), 9) AS p90 FROM orders)
SELECT COUNT(*) AS n_orders,
       (SELECT p90 FROM thr) AS p90_threshold_r9,
       CAST(SUM(CASE WHEN o_totalprice >= (SELECT p90 FROM thr) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_orders,
       ROUND(CAST(SUM(CAST(CASE WHEN o_totalprice >= (SELECT p90 FROM thr)
                                THEN o_totalprice ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 9)
         AS tail_revenue_share_r9
FROM orders
"""
