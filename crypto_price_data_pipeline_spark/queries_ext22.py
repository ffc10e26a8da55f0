"""Coverage wave 22 ([EXT]): time-bounded funnels, retrieval
evaluation, CBO cardinality audit, watermark sizing, and quantile
normalization.

- ``q_funnel_windowed`` — conversion funnel with DEADLINES: signup →
  first click within 7 days → first purchase within 7 days of that
  click. The min-after-min chaining rides two compact per-user
  aggregates; bounds make it the real product-analytics funnel
  (unbounded gaps — q_strict_funnel — overcount).
- ``q_retrieval_agreement`` — IR evaluation as a query: overlap@10
  and summed rank displacement between BM25 (rational idf) and plain
  term-frequency ranking for the same fixed query — what idf + length
  normalization actually buys, measured. The eval harness every
  retrieval stack needs, run inside the engine.
- ``q_join_cardinality`` — the textbook CBO estimate
  |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B) vs the ACTUAL join count for
  two joins (orders⋈customer, lineitem⋈orders) — the planner
  diagnostic that catches stale stats / correlation surprises.
- ``q_lateness_audit`` — watermark sizing from data: per-user
  out-of-order lateness (running-max event time minus ts in arrival
  order), fraction late, and p50/p90/max lateness — the number you
  set ``withWatermark`` to. Per-user windows, fully parallel.
- ``q_quantile_normalize`` — per-language percent-rank normalization
  of document length (the cross-corpus score equalizer used before
  mixing sources); top-3 per language shown.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query

_WEEK_US = 7 * 86_400_000_000


# ------------------------------------------- windowed funnel


@query
def q_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Deadline funnel: signup → click ≤7d later → purchase ≤7d after
    the click. One pass builds per-user min signup; two conditional
    min-aggregates chain the stages (each a map-side-combinable
    shuffle on user_id, no self-join of the full event log)."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    signup = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("t0")
    )
    click = (
        ev.where(F.col("event_type") == "click")
        .join(signup, "user_id")
        .where((F.col("us") > F.col("t0")) & (F.col("us") <= F.col("t0") + _WEEK_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .where((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + _WEEK_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    n0, n1, n2 = signup.count(), click.count(), purchase.count()
    return spark.createDataFrame(
        [(n0, n1, n2)], "n_signup long, n_click_7d long, n_purchase_7d long"
    ).select(
        "n_signup",
        "n_click_7d",
        "n_purchase_7d",
        F.when(
            F.col("n_signup") > 0,
            F.round(
                F.col("n_click_7d").cast("double")
                / F.col("n_signup").cast("double"),
                9,
            ),
        ).alias("rate_click_r9"),
        F.when(
            F.col("n_click_7d") > 0,
            F.round(
                F.col("n_purchase_7d").cast("double")
                / F.col("n_click_7d").cast("double"),
                9,
            ),
        ).alias("rate_purchase_r9"),
    )


Q_FUNNEL_WINDOWED_SQL = """
WITH signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1),
click AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
  FROM events e JOIN signup s ON s.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > s.t0 AND epoch_us(e.ts) <= s.t0 + 604800000000
  GROUP BY 1),
purchase AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN click c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > c.t1 AND epoch_us(e.ts) <= c.t1 + 604800000000
  GROUP BY 1),
n AS (SELECT (SELECT COUNT(*) FROM signup) AS n0,
             (SELECT COUNT(*) FROM click) AS n1,
             (SELECT COUNT(*) FROM purchase) AS n2)
SELECT n0 AS n_signup, n1 AS n_click_7d, n2 AS n_purchase_7d,
       ROUND(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS rate_click_r9,
       ROUND(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS rate_purchase_r9
FROM n
"""


# ------------------------------------- retrieval agreement eval


@query
def q_retrieval_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Overlap@10 and rank displacement: BM25 vs raw term-frequency
    ranking for the fixed 3-term query. Reuses q_bm25_topk's ranking
    verbatim (same engine-side plan); the TF ranking is the same
    aggregate minus idf/length terms. Output: one row of eval
    metrics — the retrieval A/B scorecard."""
    from .queries_ext19 import q_bm25_topk, BM25_QUERY_TERMS
    from .operators.text import tokenize

    bm25 = q_bm25_topk(spark, sf).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_r9").desc(), "doc_id"))
        .cast("long")
        .alias("rank_bm25"),
    )
    docs = load_table(spark, sf, "documents")
    # top-k idiom: orderBy().limit(k) plans TakeOrderedAndProject (a
    # per-partition bounded heap + k-row merge), so the matched set is
    # never single-partitioned; the row_number window then runs on the
    # 10-row result only. Same tiebreak ⇒ identical rows and ranks.
    tf_top = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(10)
    )
    tf_rank = tf_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .cast("long")
        .alias("rank_tf"),
    )
    joined = bm25.join(tf_rank, "doc_id")
    return joined.agg(
        F.count(F.lit(1)).alias("overlap_10"),
        F.sum(F.abs(F.col("rank_bm25") - F.col("rank_tf"))).alias(
            "sum_rank_delta"
        ),
    ).select(
        "overlap_10",
        "sum_rank_delta",
        F.round(F.col("overlap_10").cast("double") / 10.0, 9).alias(
            "agreement_r9"
        ),
    )


# the oracle rebuilds both rankings: BM25 (same SQL as Q_BM25_TOPK_SQL)
# and the TF-only ranking, then joins on doc_id.
Q_RETRIEVAL_AGREEMENT_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS t
  FROM documents),
base AS (SELECT doc_id, t, len(t) AS dl FROM toked),
n AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base),
terms AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'window')
  GROUP BY 1, 2, 3),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         ((CAST((SELECT n_docs FROM n) AS DOUBLE) - df + 0.5) / (df + 0.5))
         * ((tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                         / ((SELECT sum_dl FROM n) / CAST((SELECT n_docs FROM n) AS DOUBLE)))))
         AS s
  FROM tf JOIN df ON tf.term = df.term),
bm25 AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 9) AS bm25_r9
  FROM scored GROUP BY doc_id
  ORDER BY bm25_r9 DESC, doc_id LIMIT 10),
bm25r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25_r9 DESC, doc_id) AS BIGINT) AS rank_bm25
  FROM bm25),
tfsum AS (
  SELECT doc_id, SUM(tf) AS tf FROM tf GROUP BY 1),
tfr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS rank_tf
  FROM tfsum
  QUALIFY rank_tf <= 10),
joined AS (
  SELECT b.doc_id, rank_bm25, rank_tf FROM bm25r b JOIN tfr t ON t.doc_id = b.doc_id)
SELECT COUNT(*) AS overlap_10,
       CAST(SUM(ABS(rank_bm25 - rank_tf)) AS BIGINT) AS sum_rank_delta,
       ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 9) AS agreement_r9
FROM joined
"""


# ------------------------------------------- CBO cardinality audit


@query
def q_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Textbook join-size estimate vs truth for two equi-joins.

    estimate = |A|·|B| / max(ndv_A(k), ndv_B(k)); actual = COUNT of
    the real join. Each side needs one count + one distinct-count
    (map-side combinable); the actual join is the co-keyed shuffle
    the planner would run anyway. err_ratio > ~2 flags correlation
    or stale stats — the re-ANALYZE trigger, as a query.
    """
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    li = load_table(spark, sf, "lineitem")

    def audit(name, a, b, ka, kb):
        n_a, ndv_a = a.agg(F.count(F.lit(1)), F.countDistinct(ka)).first()
        n_b, ndv_b = b.agg(F.count(F.lit(1)), F.countDistinct(kb)).first()
        actual = a.join(b, F.col(ka) == F.col(kb)).count()
        # an empty side means zero distinct keys: the estimate (and the
        # actual) are exactly 0 — avoid the 0/0
        est = (
            (float(n_a) * float(n_b)) / float(max(ndv_a, ndv_b))
            if max(ndv_a, ndv_b) > 0
            else 0.0
        )
        return (name, n_a, n_b, actual, est)

    rows = [
        audit("lineitem_orders", li, orders, "l_orderkey", "o_orderkey"),
        audit("orders_customer", orders, cust, "o_custkey", "c_custkey"),
    ]
    return (
        spark.createDataFrame(
            rows, "join_name string, n_a long, n_b long, actual long, estimate double"
        )
        .select(
            "join_name",
            "n_a",
            "n_b",
            "actual",
            F.round("estimate", 6).alias("estimate_r6"),
            F.when(
                F.col("actual") > 0,
                F.round(
                    F.col("estimate") / F.col("actual").cast("double"), 9
                ),
            ).alias("err_ratio_r9"),
        )
        .orderBy("join_name")
    )


Q_JOIN_CARDINALITY_SQL = """
WITH lo AS (
  SELECT 'lineitem_orders' AS join_name,
         (SELECT COUNT(*) FROM lineitem) AS n_a,
         (SELECT COUNT(*) FROM orders) AS n_b,
         (SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual,
         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_a,
         (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_b),
oc AS (
  SELECT 'orders_customer' AS join_name,
         (SELECT COUNT(*) FROM orders) AS n_a,
         (SELECT COUNT(*) FROM customer) AS n_b,
         (SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) AS actual,
         (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_a,
         (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_b),
u AS (SELECT * FROM lo UNION ALL SELECT * FROM oc)
SELECT join_name, n_a, n_b, actual,
       ROUND((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE), 6) AS estimate_r6,
       ROUND(((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
              / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE)) / CAST(actual AS DOUBLE), 9) AS err_ratio_r9
FROM u ORDER BY join_name
"""


# ------------------------------------------- watermark lateness


@query
def q_lateness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-orderness audit for watermark sizing: within each user's
    arrival order (event_id — the ingest sequence), lateness = running
    max event time minus this row's event time. One row: late
    fraction and the lateness percentiles you'd set withWatermark to.
    Per-user windows — no global sort at any scale.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = ev.select(
        (F.greatest(F.max("us").over(w) - F.col("us"), F.lit(0))).alias("late_us")
    ).na.fill({"late_us": 0})
    return lat.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
        F.round(
            F.sum((F.col("late_us") > 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("late_frac_r9"),
        # micros magnitudes reach 1e9 where double ulp ~1e-7: round to
        # 3 places (interpolated halves stay exact, ulp drift dies)
        F.round(F.expr("percentile(late_us, 0.5)"), 3).alias("p50_late_us"),
        F.round(F.expr("percentile(late_us, 0.9)"), 3).alias("p90_late_us"),
        F.max("late_us").alias("max_late_us"),
    )


Q_LATENESS_AUDIT_SQL = """
WITH lat AS (
  SELECT GREATEST(COALESCE(MAX(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), epoch_us(ts))
         - epoch_us(ts), 0) AS late_us
  FROM events)
SELECT COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS late_frac_r9,
       ROUND(quantile_cont(late_us, 0.5), 3) AS p50_late_us,
       ROUND(quantile_cont(late_us, 0.9), 3) AS p90_late_us,
       MAX(late_us) AS max_late_us
FROM lat
"""


# ---------------------------------------- quantile normalization


@query
def q_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language percent-rank of document length — the
    cross-source score equalizer (a 90th-percentile doc means the
    same thing in every language after this). Top-3 per language by
    normalized score shown; (n_chars, doc_id) makes the rank total.
    """
    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank_r9"),
    )
    top = ranked.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("pct_rank_r9").desc(), "doc_id"
            )
        ),
    )
    return (
        top.where(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars", "pct_rank_r9")
        .orderBy("lang", F.col("pct_rank_r9").desc(), "doc_id")
    )


Q_QUANTILE_NORMALIZE_SQL = """
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id), 9) AS pct_rank_r9
  FROM documents),
top AS (
  SELECT lang, doc_id, n_chars, pct_rank_r9,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pct_rank_r9 DESC, doc_id) AS rn
  FROM ranked)
SELECT lang, doc_id, n_chars, pct_rank_r9
FROM top WHERE rn <= 3
ORDER BY lang, pct_rank_r9 DESC, doc_id
"""
