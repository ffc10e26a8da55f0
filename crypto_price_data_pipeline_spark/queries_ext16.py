"""Coverage wave 16 ([EXT]): hierarchical rollups, contribution
analysis, forensic auditing, sequence mining, streamed retention.

- ``q_rollup_hierarchy`` — minute→hour→day chained rollups (the
  TimescaleDB continuous-aggregate hierarchy): intermediate sums stay
  DECIMAL(38,6) so every re-aggregation is exact/associative, and the
  day level provably equals direct aggregation from the raw feed
  (which is what the oracle computes).
- ``q_share_report`` — contribution analysis: nation revenue + share
  of its region (window sum over the aggregated dimension rows;
  decimal until the final two casts + one division).
- ``q_abc_classification`` — Pareto/ABC inventory classes by exact
  cumulative revenue share (A ≤80%, B ≤95%, C rest); the cumsum
  window runs over the AGGREGATED part table, not the fact table —
  at fact-scale cardinality swap in the two-phase prefix sum
  (operators/packing.with_global_offsets).
- ``q_benford_audit`` — first-digit distribution of order totals vs
  Benford expectation with hardcoded log10 literals (no libm calls);
  digit extracted from the integer cents string — integer-to-string
  never goes scientific, unlike double-to-string.
- ``q_event_bigrams`` — sequence mining: most frequent consecutive
  event-type pairs per user (one lag/lead window + one count agg).
- ``q_stream_retention`` — streamed cohort retention: per-batch
  mergeable partials (per-user MIN first-ts; distinct user-weeks) land
  per-batch_id; read-side re-min + re-distinct and q_cohort_retention's
  own finish — streamed ≡ batch, same oracle verbatim.

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
from .streaming.partial_store import stream_partials


# ------------------------------------------- hierarchical rollups


@query
def q_rollup_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Minute→hour→day rollup chain with DECIMAL intermediate sums —
    each level re-aggregates the level below (count-sum, decimal-sum,
    min/min, max/max: all associative), so the top level is bit-equal
    to aggregating the raw stream directly; the oracle does exactly
    that. This is the lossless-rollup certificate for a hypertable
    hierarchy where day queries never touch raw data."""
    ev = load_table(spark, sf, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"))).alias("sum_dec"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "min_v",
        "max_v",
    ).orderBy("day")


Q_ROLLUP_HIERARCHY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------- share-of-region report


@query
def q_share_report(spark: SparkSession, sf: str) -> DataFrame:
    """Contribution analysis: nation revenue and its share of the
    region total. Revenue stays DECIMAL through the window sum (exact,
    order-free); the share is two exact casts + one double division.
    The window runs over 25 aggregated dimension rows, not facts."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    w = Window.partitionBy("r_name")
    return (
        per_nation.withColumn("region_dec", F.sum("rev_dec").over(w))
        .select(
            "r_name",
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("rev_dec").cast("double") / F.col("region_dec").cast("double")
            ).alias("region_share"),
        )
        .orderBy("r_name", "n_name")
    )


Q_SHARE_REPORT_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name)
SELECT r_name, n_name,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE)
       / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS region_share
FROM per_nation ORDER BY r_name, n_name
"""


# --------------------------------------------- ABC classification


@query
def q_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto/ABC classes by exact cumulative revenue share: parts
    ordered by (revenue desc, partkey), decimal cumsum, class
    boundaries on the final double share.

    The cumsum covers one row per PART — billions at 100 TB — so the
    naive no-partitionBy window (an Exchange SinglePartition over the
    per-part table) is replaced by the two-phase distributed prefix
    sum, fully IN-PLAN: 256 revenue-range buckets (descending — the
    bucket is a pure function of rev, hence a monotone coarsening of
    the (rev DESC, partkey) order), per-bucket local decimal cumsum
    windows in parallel, and bucket offsets from a decimal cumsum
    window over the ≤256-row per-bucket totals aggregate (the
    bounded-domain single-partition case the plan-hygiene gate
    permits), broadcast back. Decimal addition is associative, so
    local + offset is bit-identical to the global window the oracle
    runs; zero driver round-trips — range stats, bucket offsets, and
    the grand total all ride broadcast 1-row/256-row aggregates in
    one lazy plan."""
    li = load_table(spark, sf, "lineitem")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_dec"))
    stats = per_part.agg(
        F.min(F.col("rev_dec").cast("double")).alias("_lo"),
        F.max(F.col("rev_dec").cast("double")).alias("_hi"),
        F.sum("rev_dec").alias("_tot"),
    )
    w = (F.col("_hi") - F.col("_lo")) / F.lit(256.0)
    width = F.when(w == 0.0, F.lit(1.0)).otherwise(w)
    # bucket 0 = highest revenue; decimal→double is order-preserving,
    # collisions only merge adjacent buckets (exact rev_dec still
    # orders inside each bucket)
    bucketed = per_part.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.least(
            F.floor((F.col("_hi") - F.col("rev_dec").cast("double")) / width),
            F.lit(255),
        ).cast("long"),
    )
    totals = bucketed.groupBy("_bkt").agg(F.sum("rev_dec").alias("_bt"))
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_bkt",
        F.coalesce(
            F.sum("_bt").over(woff), F.lit(0).cast("decimal(38,6)")
        ).alias("_off"),
    )
    wloc = Window.partitionBy("_bkt").orderBy(
        F.col("rev_dec").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    classed = (
        bucketed.withColumn("_loc", F.sum("rev_dec").over(wloc))
        .join(F.broadcast(offs), "_bkt")
        .withColumn(
            "cum_share",
            (F.col("_loc") + F.col("_off")).cast("double")
            / F.col("_tot").cast("double"),
        )
        .withColumn(
            "abc",
            F.when(F.col("cum_share") <= 0.8, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy("abc")
    )


Q_ABC_CLASSIFICATION_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem GROUP BY l_partkey),
classed AS (
  SELECT l_partkey, rev_dec,
         CASE WHEN CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER () AS DOUBLE) <= 0.8 THEN 'A'
              WHEN CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER () AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM per_part)
SELECT abc, COUNT(*) AS n_parts, CAST(SUM(rev_dec) AS DOUBLE) AS revenue
FROM classed GROUP BY abc ORDER BY abc
"""


# ------------------------------------------------- Benford audit

# log10(1 + 1/d) for d = 1..9, precomputed so neither engine calls log
_BENFORD = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


@query(oracle=lambda: _benford_sql())
def q_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law forensic audit of order totals: observed
    first-digit counts vs the expected distribution (hardcoded log10
    literals), with the per-digit chi-square contribution. The digit
    comes from the integer cents string — integer→string never turns
    scientific, so both engines extract the identical character."""
    orders = load_table(spark, sf, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = orders.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n_obs"))
    n_total = orders.count()
    prob = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(d) for d in _BENFORD]),
            F.array(*[F.lit(p) for p in _BENFORD.values()]),
        ),
        F.col("digit"),
    )
    expected = prob * F.lit(float(n_total))
    return obs.select(
        "digit",
        "n_obs",
        F.round(expected, 9).alias("expected_r9"),
        F.round(
            (F.col("n_obs").cast("double") - expected) ** 2 / expected, 9
        ).alias("chi2_contrib_r9"),
    ).orderBy("digit")


def _benford_sql() -> str:
    cases_p = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD.items()
    )
    return f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders)
SELECT digit, n_obs,
       ROUND((CASE digit {cases_p} END) * n, 9) AS expected_r9,
       ROUND(POWER(CAST(n_obs AS DOUBLE) - (CASE digit {cases_p} END) * n, 2)
             / ((CASE digit {cases_p} END) * n), 9) AS chi2_contrib_r9
FROM obs, tot ORDER BY digit
"""


# ------------------------------------------------- event bigrams


@query
def q_event_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining: the 10 most frequent consecutive event-type
    transitions per user timeline — one lead window + one count agg."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(10)
    )


Q_EVENT_BIGRAMS_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*) AS n
FROM pairs WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n DESC, from_type, to_type
LIMIT 10
"""


# --------------------------------------------- streamed retention


@query(twin_of="q_cohort_retention")
def q_stream_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed cohort retention: events replay in 3 chunks; each
    micro-batch lands two mergeable partials — per-user MIN ts (MIN is
    associative) and the batch's distinct (user, week) pairs (distinct
    union re-distincts on read). The read side then runs
    q_cohort_retention's own finish, so streamed ≡ batch (same
    oracle), whatever the chunking."""
    from .queries_ext14 import _retention_finish, _retention_partial

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    parts = stream_partials(
        spark, ev, F.col("event_id") % 3, _retention_partial, "stream_ret_"
    )
    firsts = parts["firsts"].groupBy("user_id").agg(F.min("min_ts").alias("min_ts"))
    return _retention_finish(firsts, parts["weeks"].distinct())
