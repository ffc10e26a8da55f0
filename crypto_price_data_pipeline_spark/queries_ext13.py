"""Coverage wave 13 ([EXT]): frequency analytics, temporal enrichment,
weighted curation sampling, robust statistics, interval algebra.

- ``q_heavy_hitters`` — exact heavy hitters without the long-tail
  shuffle (``operators/frequency.py``): per-partition Misra-Gries
  candidates (zero-shuffle mapInPandas) + broadcast semi-join exact
  recount; the final ``freq·den > n`` filter is integer-exact, so the
  result is partition-invariant even though candidates are not.
- ``q_stream_heavy_hitters`` — the ingest-time twin: per-batch exact
  token-count partials (additive) land per-batch_id; merge-on-read
  re-sums and applies the same integer threshold — streamed ≡ batch,
  same oracle verbatim.
- ``q_temporal_join`` — fact-to-SCD2 enrichment: clicks join the tier
  version valid AT CLICK TIME (tier history built from purchase
  events only); the dimension history broadcasts, so the fact side
  never shuffles — the canonical warehouse "as-of dimension" join.
- ``q_weighted_sample`` — length-weighted deterministic Bernoulli
  sampling: keep doc iff ``md5_64bit_prefix · 512 < n_tok · 2^32`` —
  P(keep) ≈ n_tok/512, pure integer comparison, reproducible on any
  engine with zero RNG state (the importance-sampling rule for
  token-budget curation).
- ``q_robust_scale`` — median/IQR robust outlier cut per event type
  (the heavy-tail-safe twin of q_zscore_outliers): exact interpolated
  percentiles + one broadcast join back.
- ``q_interval_coverage`` — interval-union coverage per user
  (gaps-and-islands): value-proportional event durations merged into
  islands via a running-max window, total covered micros + island
  count in exact integer arithmetic.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .streaming.partial_store import merge_sums, stream_partials
from .operators.text import tokenize
from .functions.scalars import dsum
from .queries import S_DSUM
from .registry import query


# ------------------------------------------------ exact heavy hitters

_HH_DEN = 50


@query
def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus tokens with frequency > n/50, exact counts — via the
    Misra-Gries candidate pass + exact recount (no long-tail shuffle)."""
    from .operators.frequency import heavy_hitters

    toks = load_table(spark, sf, "documents").select(
        F.explode(tokenize("text")).alias("token")
    )
    return heavy_hitters(toks, "token", den=_HH_DEN)


Q_HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
  FROM documents)
SELECT token, COUNT(*) AS freq
FROM toks
GROUP BY token
HAVING COUNT(*) * 50 > (SELECT COUNT(*) FROM toks)
ORDER BY freq DESC, token
"""


@query(twin_of="q_heavy_hitters")
def q_stream_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed heavy hitters: docs replay in 3 chunks; each
    micro-batch lands its exact per-token counts (additive partials,
    per-batch_id overwrite); read re-sums and applies the identical
    integer threshold. Streamed ≡ batch whatever the chunking. The
    batch query keeps its Misra-Gries candidate pass, which avoids
    exactly the full per-token count these partials store."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")

    def counts(batch: DataFrame) -> DataFrame:
        return (
            batch.select(F.explode(tokenize("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
        )

    stored = stream_partials(spark, docs, F.col("doc_id") % 3, counts, "stream_hh_")
    merged = merge_sums(stored, "token")
    n = merged.agg(F.sum("freq")).first()[0] or 0
    return (
        merged.where(F.col("freq") * F.lit(_HH_DEN) > F.lit(n))
        .orderBy(F.col("freq").desc(), F.col("token"))
    )


# ------------------------------------------- fact-to-SCD2 as-of join


@query
def q_temporal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Enrich the click stream with each user's tier VALID AT CLICK
    TIME, where tier history is the SCD2 collapse of purchase events
    only. The history is dimension-sized and broadcasts; clicks (the
    fact side) never shuffle — one broadcast range-predicate hash join
    + one agg. Clicks before the user's first purchase get 'none'."""
    from .operators.scd import scd2_history

    ev = load_table(spark, sf, "events")
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    snaps = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", tier.alias("tier"))
        .groupBy("user_id", "ts")
        .agg(F.min("tier").alias("tier"))
    )
    hist = scd2_history(snaps, ["user_id"], "ts", ["tier"]).select(
        F.col("user_id").alias("h_user"),
        "effective_from",
        "effective_to",
        "tier",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = clicks.join(
        F.broadcast(hist),
        (F.col("user_id") == F.col("h_user"))
        & (F.col("ts") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))),
        "left",
    )
    return (
        joined.groupBy(F.coalesce(F.col("tier"), F.lit("none")).alias("tier_asof"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("tier_asof")
    )


Q_TEMPORAL_JOIN_SQL = f"""
WITH snaps AS (
  SELECT user_id, ts,
         MIN(CASE WHEN value < 50 THEN 'low'
                  WHEN value < 150 THEN 'mid' ELSE 'high' END) AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
marked AS (
  SELECT user_id, ts, tier,
         CASE WHEN LAG(tier) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS newv
  FROM snaps),
vers AS (SELECT user_id, ts, tier FROM marked WHERE newv = 1),
hist AS (
  SELECT user_id AS h_user, ts AS effective_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to,
         tier
  FROM vers),
clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT COALESCE(h.tier, 'none') AS tier_asof,
       COUNT(*) AS n_clicks,
       {S_DSUM("c.value")} AS sum_value
FROM clicks c LEFT JOIN hist h
  ON c.user_id = h.h_user
 AND c.ts >= h.effective_from
 AND (h.effective_to IS NULL OR c.ts < h.effective_to)
GROUP BY COALESCE(h.tier, 'none')
ORDER BY tier_asof
"""


# ------------------------------------- length-weighted hash sampling


@query
def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample: keep a doc iff
    ``hash64(doc) · 512 < n_tok · 2^32`` (P ≈ n_tok/512, docs ≥512
    tokens always kept) — pure integer comparison, identical membership
    on any engine, no RNG. The importance-sampling rule that selects
    long documents proportionally for a token-budget subset."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tok")
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = docs.where(h * F.lit(512) < F.col("n_tok").cast("long") * F.lit(2**32))
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tok").alias("n_tok_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


Q_WEIGHTED_SAMPLE_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_tok) AS BIGINT) AS n_tok_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM d WHERE h * 512 < n_tok * 4294967296
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------ robust (median/IQR) scale


@query
def q_robust_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier cut per event type: |value − median| > 1.5·IQR
    — the heavy-tail-safe alternative to z-scores (median and exact
    interpolated quartiles are engine-identical, q_percentiles
    contract). One ordered-stat agg + one broadcast join back."""
    ev = load_table(spark, sf, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("median_val"),
        (
            F.expr("percentile(value, 0.75)") - F.expr("percentile(value, 0.25)")
        ).alias("iqr_val"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n", "median_val", "iqr_val")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("median_val"))
                    > F.lit(1.5) * F.col("iqr_val"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("event_type")
    )


Q_ROBUST_SCALE_SQL = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         quantile_cont(value, 0.5) AS median_val,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr_val
  FROM events GROUP BY event_type)
SELECT e.event_type, s.n, s.median_val, s.iqr_val,
       CAST(SUM(CASE WHEN ABS(e.value - s.median_val) > 1.5 * s.iqr_val
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type, s.n, s.median_val, s.iqr_val
ORDER BY e.event_type
"""


# --------------------------------------- interval-union coverage


@query
def q_interval_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands interval union per user: each event covers
    [ts, ts + value µs-scaled]; overlapping intervals merge into
    islands via a running-max window (one window pass, integer micros
    throughout), reporting total covered time and island count —
    the utilization/coverage primitive for session and uptime math."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    s = F.unix_micros(F.col("ts"))
    dur = F.greatest(F.round(F.col("value") * F.lit(1000000.0)).cast("long"), F.lit(0))
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + dur).alias("e"))
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = marked.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("covered").alias("covered_micros"),
        )
        .orderBy("user_id")
    )


Q_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + GREATEST(CAST(ROUND(value * 1000000.0) AS BIGINT), 0) AS e
  FROM events),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
islands_tagged AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked),
islands AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS covered
  FROM islands_tagged GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands, CAST(SUM(covered) AS BIGINT) AS covered_micros
FROM islands GROUP BY user_id ORDER BY user_id
"""
