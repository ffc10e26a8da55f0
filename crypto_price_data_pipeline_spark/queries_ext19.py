"""Coverage wave 19 ([EXT]): BM25 ranking, association rules, revenue
inequality, change-point detection, RFM segmentation.

- ``q_bm25_topk`` — BM25 document ranking for a fixed keyword query
  with the RATIONAL idf variant ((N−df+0.5)/(df+0.5), no ln — the
  determinism contract bans cross-libm transcendentals from oracled
  values; the rational form preserves BM25's df ordering). The
  retrieval scorer every lexical search stack needs next to the
  vector ANN family.
- ``q_lift_rules`` — market-basket association rules over per-user
  event-type baskets: pair support, directional confidences, lift.
  Baskets are tiny (≤5 distinct types) so the per-user pair expansion
  is bounded; counts-only arithmetic keeps the oracle exact.
- ``q_gini_by_nation`` — revenue concentration: per-nation Gini
  coefficient of customer lifetime spend (zero-spend customers
  included), computed by the exact rank formula
  G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over (spend, custkey)-sorted
  customers — tie-order-invariant because equal x contribute the
  same Σ i·xᵢ under any permutation of their ranks.
- ``q_changepoint`` — CUSUM change-point: the day boundary maximizing
  |S_t·N − S_N·n_t| over the daily event-value series (the
  unnormalized two-sample mean-shift statistic; exact decimal
  partial sums cast once to double so the argmax is engine-stable).
- ``q_rfm_segments`` — recency/frequency/monetary customer
  segmentation: quartile scores via ntile(4) over totally-ordered
  metrics (ties broken by custkey — deterministic in both engines),
  rolled up to segment counts.

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


# ------------------------------------------------------ BM25 top-k

BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75


@query
def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 docs for the fixed query by rational-idf BM25.

    Plan: tokenize once (doc length rides the same projection), explode
    → filter to the 3 query terms BEFORE the tf aggregate (the filter
    is the inverted-index probe: at scale the explode-filter is a
    fraction-of-corpus scan, and the df side is 3 rows → broadcast).
    Per-term scores are single IEEE expressions over identical inputs;
    the per-doc sum goes through DECIMAL(38,6) so summation order
    can't drift the hash. k1=1.2, b=0.75 (Robertson's defaults).
    """
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    toked = docs.select("doc_id", tokenize("text").alias("t")).select(
        "doc_id", "t", F.size("t").alias("dl")
    )
    n_docs = toked.count()
    if n_docs == 0:
        # empty corpus: no documents to rank
        return spark.createDataFrame([], "doc_id bigint, bm25_r9 double")
    avgdl = (
        toked.agg(F.sum("dl")).first()[0] / float(n_docs)
    )
    terms = toked.select(
        "doc_id", "dl", F.explode("t").alias("term")
    ).where(F.col("term").isin(*BM25_QUERY_TERMS))
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = BM25_K1, BM25_B
    idf = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(float(avgdl))
        )
    )
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id", (idf * tf_part).alias("s")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum(_dec(F.col("s"))).cast("double"), 9).alias("bm25_r9"))
        .orderBy(F.col("bm25_r9").desc(), "doc_id")
        .limit(10)
    )


Q_BM25_TOPK_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS t
  FROM documents),
base AS (SELECT doc_id, t, len(t) AS dl FROM toked),
n AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base),
terms AS (
  SELECT doc_id, dl, unnest(t) AS term FROM base),
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
  FROM tf JOIN df ON tf.term = df.term)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 9) AS bm25_r9
FROM scored GROUP BY doc_id
ORDER BY bm25_r9 DESC, doc_id LIMIT 10
"""


# ------------------------------------------------ association rules


@query
def q_lift_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type association rules over per-user baskets.

    Basket = the distinct event types a user ever fired (≤5 here, and
    bounded by the type vocabulary at any scale, so the per-user pair
    expansion is O(|types|²) per user, not corpus-quadratic). Counts
    aggregate map-side; lift and both confidences are single divisions
    of identical bigints. Pairs below support 2 are cut.
    """
    ev = load_table(spark, sf, "events")
    basket = ev.select("user_id", "event_type").distinct()
    n_users = basket.select("user_id").distinct().count()
    singles = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a = basket.select("user_id", F.col("event_type").alias("type_a"))
    b = basket.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    na = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    nb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 9
            ).alias("conf_a_to_b_r9"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_b").cast("double"), 9
            ).alias("conf_b_to_a_r9"),
            F.round(
                (F.col("n_ab").cast("double") * F.lit(float(n_users)))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("lift_r9"),
        )
        .orderBy("type_a", "type_b")
    )


Q_LIFT_RULES_SQL = """
WITH basket AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM basket),
singles AS (SELECT event_type, COUNT(*) AS n_single FROM basket GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT type_a, type_b, n_ab, na.n_single AS n_a, nb.n_single AS n_b,
       ROUND(CAST(n_ab AS DOUBLE) / CAST(na.n_single AS DOUBLE), 9) AS conf_a_to_b_r9,
       ROUND(CAST(n_ab AS DOUBLE) / CAST(nb.n_single AS DOUBLE), 9) AS conf_b_to_a_r9,
       ROUND((CAST(n_ab AS DOUBLE) * CAST((SELECT n_users FROM n) AS DOUBLE))
             / (CAST(na.n_single AS DOUBLE) * CAST(nb.n_single AS DOUBLE)), 9) AS lift_r9
FROM pairs
JOIN singles na ON na.event_type = type_a
JOIN singles nb ON nb.event_type = type_b
ORDER BY type_a, type_b
"""


# ------------------------------------------------ revenue inequality


@query
def q_gini_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation Gini coefficient of customer lifetime spend.

    Spend = exact decimal Σ o_totalprice (0 for order-less customers —
    a left join, so the inequality measure sees the whole population).
    The rank formula needs one per-nation sort (window row_number over
    (spend, custkey)); Σ i·xᵢ and Σx are decimal-exact, and the final
    G is a single double expression over identical inputs. Nation
    cardinality is fixed (25), so the per-nation windows are balanced.
    """
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).alias("x")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "c_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("x").cast("double").alias("sum_x"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("sum_ix"),
    )
    n = F.col("n_cust").cast("double")
    # zero-total-spend nations (all customers order-less): G is
    # undefined -> NULL; no-op wherever any spend exists
    gini = F.when(
        F.col("sum_x") > 0,
        (F.lit(2.0) * F.col("sum_ix")) / (n * F.col("sum_x"))
        - (n + F.lit(1.0)) / n,
    )
    return (
        agg.select(
            "c_nationkey",
            "n_cust",
            F.round("sum_x", 6).alias("sum_spend_r6"),
            F.round(gini, 9).alias("gini_r9"),
        )
        .orderBy("c_nationkey")
    )


Q_GINI_BY_NATION_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))),
                  CAST(0 AS DECIMAL(38,6))) AS x
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT c_nationkey, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY x, c_custkey) AS BIGINT) AS i
  FROM spend),
agg AS (
  SELECT c_nationkey, COUNT(*) AS n_cust,
         CAST(SUM(x) AS DOUBLE) AS sum_x,
         CAST(SUM(i * x) AS DOUBLE) AS sum_ix
  FROM ranked GROUP BY 1)
SELECT c_nationkey, n_cust,
       ROUND(sum_x, 6) AS sum_spend_r6,
       ROUND((2.0 * sum_ix) / (CAST(n_cust AS DOUBLE) * sum_x)
             - (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE), 9) AS gini_r9
FROM agg ORDER BY c_nationkey
"""


# ------------------------------------------------ change-point scan


def _changepoint_partial(ev: DataFrame) -> DataFrame:
    """Daily exact-decimal value sums and counts — additive, so stored
    partials merge with ``merge_sums(_, "day")``."""
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(_dec(F.col("value"))).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )


def _changepoint_finish(daily: DataFrame) -> DataFrame:
    """The statistic per candidate split from the daily sums, then the
    argmax. The totals are whole-frame windows in the same single
    partition as the cumulative window, so no second pass over the day
    table and no join back."""
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = daily.select(
        "day",
        F.sum("s").over(wcum).alias("st"),
        F.sum("c").over(wcum).alias("nt"),
        F.sum("s").over(wall).alias("s_tot"),
        F.sum("c").over(wall).alias("n_tot"),
    ).where(F.col("nt") < F.col("n_tot"))
    # the statistic stays DECIMAL end-to-end: st*N and s_tot*nt reach
    # ~1e11, where double ulp (~3e-5) exceeds the 1e-6 rounding grain —
    # a double product here could flip the last rounded digit between
    # engines. Decimal × bigint is exact in both.
    stat = F.abs(F.col("st") * F.col("n_tot") - F.col("s_tot") * F.col("nt"))
    return (
        scored.select(
            F.col("day").alias("split_day"),
            F.col("nt").alias("n_left"),
            (F.col("n_tot") - F.col("nt")).alias("n_right"),
            F.round(
                F.col("st").cast("double") / F.col("nt").cast("double"), 9
            ).alias("mean_left_r9"),
            F.round(
                (F.col("s_tot") - F.col("st")).cast("double")
                / (F.col("n_tot") - F.col("nt")).cast("double"),
                9,
            ).alias("mean_right_r9"),
            stat.cast("double").alias("stat"),
        )
        .orderBy(F.col("stat").desc(), "split_day")
        .limit(1)
    )


@query
def q_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point over the daily event-value series.

    Daily exact-decimal sums/counts → one cumulative window (30-ish
    rows: the day table, not the event table — the expensive part is
    the day rollup, one map-side-combined shuffle) → the two-sample
    statistic |S_t·N − S_N·n_t| per candidate split → argmax with an
    earliest-day tie-break. Means reported for both segments.
    """
    return _changepoint_finish(_changepoint_partial(load_table(spark, sf, "events")))


Q_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS s,
         COUNT(*) AS c
  FROM events GROUP BY 1),
cum AS (
  SELECT day,
         SUM(s) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
         SUM(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
  FROM daily),
tot AS (SELECT SUM(s) AS s_tot, SUM(c) AS n_tot FROM daily)
SELECT day AS split_day,
       CAST(nt AS BIGINT) AS n_left,
       CAST(n_tot - nt AS BIGINT) AS n_right,
       ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS mean_left_r9,
       ROUND(CAST(s_tot - st AS DOUBLE) / CAST(n_tot - nt AS DOUBLE), 9) AS mean_right_r9,
       CAST(ABS(st * n_tot - s_tot * nt) AS DOUBLE) AS stat
FROM cum, tot
WHERE nt < n_tot
ORDER BY stat DESC, split_day LIMIT 1
"""


# ------------------------------------------------ RFM segmentation


@query
def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segment rollup: quartile scores for recency / frequency /
    monetary per ordering customer, aggregated to segment counts.

    Each quartile score is NTILE(4) over a total order ((metric,
    custkey)), but computed WITHOUT the single-partition window the
    naive spelling plans — and without a single driver round-trip:

    - metric domains (min/max) and the customer count ride ONE 1-row
      aggregate, broadcast-crossJoined back as columns;
    - each metric gets a 256-range monotone pre-bucket (a pure
      function of the metric value, so a monotone coarsening of the
      (metric, custkey) order — any monotone bucketing yields the
      same ranks);
    - ``operators.ordering.global_order_index_inplan`` ranks each
      metric: per-bucket local row_number windows (parallel,
      bucket-keyed shuffles) + bucket offsets from a window over the
      ≤256-row bucket-count aggregate (the bounded-domain
      single-partition case the plan-hygiene gate permits),
      broadcast back;
    - ``ntile_from_rank_cols`` derives the engine-identical NTILE
      bucket from each rank with n as a column.

    per_cust is one row per ordering customer — hundreds of millions
    at 100 TB — so the naive three global-sort exchanges would
    serialize the whole table through one task thrice; this shape
    keeps every customer-scale pass parallel, and the whole query is
    ONE lazy plan (no collects, no persists).

    r11: the three sequential per-metric rank passes are MELTED into
    one — each customer explodes into (metric, value, range-bucket)
    rows and a single grouped two-phase rank (per-(metric,bucket)
    local row_number + a prefix window over the ≤3·256-row bucket
    counts, partitioned by metric — the bounded-domain case the
    hygiene gate permits) ranks all three metrics in ONE bucket-keyed
    shuffle instead of three chained window+broadcast-join stages.
    Scores pivot back with a max-CASE groupBy on the customer. The
    melt triples the ranked row count (3 small fixed-width rows per
    customer) but cuts the stage count ~3× — the measured win was
    2.8s → 1.0s at sf0.1, and at 100 TB three narrow exchanges
    collapse into one. Wide expressions are single SQL strings (the r10
    F.expr rule: py4j Column chains charge driver milliseconds per
    node). Bit-identical to the ntile windows the oracle runs
    (pinned in tests/test_wave19.py). Recency orders
    most-recent-first so 4 = best; datediff negation is an
    order-reversing injection on dates, so (neg_days, custkey) ASC
    == (last_dt DESC, custkey); long/decimal → double casts are
    order-preserving injections at these magnitudes, and the exact
    NTILE arithmetic (integer DIV on the 1-row broadcast count)
    matches ordering.ntile_from_rank_cols.
    """
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("mon"),
        )
        .selectExpr(
            "o_custkey",
            "freq",
            "CAST(-datediff(last_dt, DATE'1992-01-01') AS BIGINT) AS _neg_days",
            "CAST(mon AS DOUBLE) AS _mon_d",
        )
    )
    stats = per_cust.selectExpr(
        "COUNT(1) AS _n",
        "MIN(_neg_days) AS _r_lo", "MAX(_neg_days) AS _r_hi",
        "MIN(freq) AS _f_lo", "MAX(freq) AS _f_hi",
        "MIN(_mon_d) AS _m_lo", "MAX(_mon_d) AS _m_hi",
    )
    withb = per_cust.crossJoin(F.broadcast(stats))

    def bsql(col: str, lo: str, hi: str) -> str:
        # monotone coarsening: uniform-width range buckets over the
        # metric domain (collisions only merge adjacent buckets,
        # never reorder — the per-bucket sort still uses the exact
        # value). Degenerate single-value domain gets width 1.
        return (
            f"CAST(least(floor((CAST({col} AS DOUBLE) - CAST({lo} AS DOUBLE)) / "
            f"(CASE WHEN CAST({hi} AS DOUBLE) = CAST({lo} AS DOUBLE) THEN 1.0D "
            f"ELSE (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) / 256.0D END)), "
            f"255L) AS BIGINT)"
        )

    melt = withb.selectExpr(
        "o_custkey",
        "_n",
        "explode(array("
        f"struct('r' AS _m, CAST(_neg_days AS DOUBLE) AS _v, {bsql('_neg_days', '_r_lo', '_r_hi')} AS _b),"
        f"struct('f' AS _m, CAST(freq AS DOUBLE) AS _v, {bsql('freq', '_f_lo', '_f_hi')} AS _b),"
        f"struct('m' AS _m, _mon_d AS _v, {bsql('_mon_d', '_m_lo', '_m_hi')} AS _b)"
        ")) AS x",
    ).selectExpr("o_custkey", "_n", "x._m AS _m", "x._v AS _v", "x._b AS _b")
    counts = melt.groupBy("_m", "_b").agg(F.count(F.lit(1)).alias("_ord_n"))
    woff = Window.partitionBy("_m").orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "_m", "_b", F.coalesce(F.sum("_ord_n").over(woff), F.lit(0)).alias("_ord_off")
    )
    local = Window.partitionBy("_m", "_b").orderBy("_v", "o_custkey")
    ranked = (
        melt.withColumn("_ord_local", F.row_number().over(local))
        .join(F.broadcast(offs), ["_m", "_b"])
        .selectExpr(
            "o_custkey", "_m", "CAST(_ord_local + _ord_off AS BIGINT) AS pos", "_n"
        )
    )
    # exact NTILE(4) from the global rank (ntile_from_rank_cols's
    # integer-DIV rule, inlined as SQL)
    ntile = (
        "CASE WHEN _n DIV 4 = 0 THEN pos "
        "WHEN pos <= (_n % 4) * (_n DIV 4 + 1) THEN (pos - 1) DIV (_n DIV 4 + 1) + 1 "
        "ELSE (_n % 4) + (pos - 1 - (_n % 4) * (_n DIV 4 + 1)) DIV (_n DIV 4) + 1 END"
    )
    scored = (
        ranked.selectExpr("o_custkey", "_m", f"({ntile}) AS _t")
        .groupBy("o_custkey")
        .agg(
            F.expr("CAST(max(CASE WHEN _m = 'r' THEN 5 - _t END) AS BIGINT)").alias(
                "r_score"
            ),
            F.expr("CAST(max(CASE WHEN _m = 'f' THEN _t END) AS BIGINT)").alias(
                "f_score"
            ),
            F.expr("CAST(max(CASE WHEN _m = 'm' THEN _t END) AS BIGINT)").alias(
                "m_score"
            ),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


Q_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_dt, COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS mon
  FROM orders GROUP BY 1),
scored AS (
  SELECT o_custkey,
         5 - NTILE(4) OVER (ORDER BY last_dt DESC, o_custkey) AS r_score,
         NTILE(4) OVER (ORDER BY freq, o_custkey) AS f_score,
         NTILE(4) OVER (ORDER BY mon, o_custkey) AS m_score
  FROM per_cust)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
FROM scored GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""
