"""Coverage wave 15 ([EXT]): data contracts, search, normalization,
trend/decay analytics.

- ``q_data_quality_gate`` — expectations-suite data contract: six
  rules (FK integrity ×2, null check, range checks, key uniqueness,
  derived-column consistency) each reported as (rule, checked,
  violations, passed) — the gate a 100-TB load runs before
  publishing a partition. Every rule is one scan or one key-pruned
  anti-join; no rule re-reads another rule's table pass.
- ``q_stream_quality_gate`` — the ingest-time twin: per-micro-batch
  additive violation partials per rule land per-batch_id; read
  re-sums — streamed totals ≡ the batch rule on the same feed.
- ``q_autocomplete`` — prefix search: top-3 completions per token
  prefix by corpus frequency (tie → token asc), prefixes with ≥2
  distinct completions — one token-count agg + one bounded window.
- ``q_text_normalize`` — deterministic cleanup pass (lowercase, strip
  non-alphanumerics, collapse whitespace; Java-regex ∩ RE2 safe
  patterns only) with per-language change accounting.
- ``q_linear_trend`` — OLS slope of value vs time (days) per event
  type from the exact-decimal moment subform (q_stats_moments
  contract: centered day-scale x keeps every decimal sum below the
  2^53/10^6 double-rounding bound).
- ``q_decayed_score`` — time-decayed popularity: Σ value·2^(−age_days)
  where the weight is an EXACT power of two (1 / (1<<days)) — no libm
  pow, so both engines compute identical doubles before the one
  decimal-summed aggregate.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import _dec
from .io.sources import load_table
from .streaming.partial_store import merge_sums, stream_partials
from .operators.text import tokenize
from .registry import query


# --------------------------------------------- data-quality contract


@query
def q_data_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Six-rule expectations gate over the warehouse tables; one row
    per rule with exact violation counts. FK rules prune the parent
    side to its key column before the anti join (the 100-TB shape);
    everything else is a single conditional aggregate per table."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cust = load_table(spark, sf, "customer")
    ev = load_table(spark, sf, "events")
    docs = load_table(spark, sf, "documents")

    fk_orders = orders.join(
        cust.select("c_custkey"), orders["o_custkey"] == F.col("c_custkey"), "left_anti"
    ).count()
    n_orders = orders.count()
    fk_li = li.join(
        orders.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"), "left_anti"
    ).count()
    n_li = li.count()
    ev_nulls, n_ev = ev.agg(
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)), F.count(F.lit(1))
    ).first()
    price_viol = orders.where(~(F.col("o_totalprice") > 0)).count()
    date_viol = orders.where(
        (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
    ).count()
    n_cust = cust.count()
    uniq_viol = n_cust - cust.select("c_custkey").distinct().count()
    nchars_viol = docs.where(F.col("n_chars") != F.length("text")).count()
    n_docs = docs.count()

    rows = [
        ("customer_key_unique", n_cust, uniq_viol),
        ("docs_nchars_consistent", n_docs, nchars_viol),
        ("events_value_not_null", n_ev, int(ev_nulls or 0)),
        ("lineitem_fk_orders", n_li, fk_li),
        ("orders_date_in_range", n_orders, date_viol),
        ("orders_fk_customer", n_orders, fk_orders),
        ("orders_price_positive", n_orders, price_viol),
    ]
    return spark.createDataFrame(
        [(n, int(c), int(v), v == 0) for n, c, v in rows],
        "rule_name string, n_checked bigint, n_violations bigint, passed boolean",
    ).orderBy("rule_name")


Q_DATA_QUALITY_GATE_SQL = """
SELECT rule_name, n_checked, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'customer_key_unique' AS rule_name,
         (SELECT COUNT(*) FROM customer) AS n_checked,
         (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer) AS n_violations
  UNION ALL
  SELECT 'docs_nchars_consistent',
         (SELECT COUNT(*) FROM documents),
         (SELECT COUNT(*) FROM documents WHERE n_chars <> length(text))
  UNION ALL
  SELECT 'events_value_not_null',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value IS NULL)
  UNION ALL
  SELECT 'lineitem_fk_orders',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'orders_date_in_range',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-01-01'
             OR o_orderdate >= TIMESTAMP '2001-01-01')
  UNION ALL
  SELECT 'orders_fk_customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'orders_price_positive',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)))
ORDER BY rule_name
"""


# ------------------------------------------ streamed quality monitor


@query
def q_stream_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time contract monitoring: the event feed replays in 3
    chunks; each micro-batch lands additive per-rule violation
    partials; read re-sums. Streamed totals ≡ the batch rules on the
    same feed (all three rules are per-row predicates, so partials
    are additive by construction)."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    known = ["click", "error", "purchase", "signup", "view"]

    def violations(batch: DataFrame) -> DataFrame:
        return batch.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "v_null_value"
            ),
            F.sum(F.when(~F.col("event_type").isin(known), 1).otherwise(0)).alias(
                "v_unknown_type"
            ),
            F.sum(F.when(F.col("value") < -1000.0, 1).otherwise(0)).alias(
                "v_value_range"
            ),
        )

    stored = stream_partials(spark, ev, F.col("event_id") % 3, violations, "stream_dq_")
    totals = merge_sums(stored)
    unpivoted = totals.selectExpr(
        "n_checked",
        "stack(3, 'events_value_not_null', v_null_value,"
        " 'events_type_known', v_unknown_type,"
        " 'events_value_range', v_value_range) AS (rule_name, n_violations)",
    )
    return unpivoted.select(
        "rule_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule_name")


Q_STREAM_QUALITY_GATE_SQL = """
SELECT rule_name, n_checked, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'events_type_known' AS rule_name,
         (SELECT COUNT(*) FROM events) AS n_checked,
         (SELECT COUNT(*) FROM events
          WHERE event_type NOT IN ('click','error','purchase','signup','view')) AS n_violations
  UNION ALL
  SELECT 'events_value_not_null',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value IS NULL)
  UNION ALL
  SELECT 'events_value_range',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value < -1000.0))
ORDER BY rule_name
"""


# ------------------------------------------------- prefix autocomplete


@query
def q_autocomplete(spark: SparkSession, sf: str) -> DataFrame:
    """Search-box autocomplete table: top-3 completions by corpus
    frequency per first-keystroke prefix (tie → token asc), prefixes
    with ≥2 distinct completions — one token-count agg, one prefix
    window. (Prefix length is a knob; 1 char on this small-vocabulary
    corpus so prefixes actually share completions.)"""
    from pyspark.sql.window import Window

    toks = load_table(spark, sf, "documents").select(
        F.explode(tokenize("text")).alias("token")
    )
    counts = (
        toks.where(F.length("token") >= 2)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("prefix", F.substring("token", 1, 1))
    )
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), F.col("token"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).withColumn(
        "n_completions", F.count(F.lit(1)).over(Window.partitionBy("prefix"))
    )
    return (
        ranked.where((F.col("rank") <= 3) & (F.col("n_completions") >= 2))
        .select("prefix", F.col("rank").cast("int").alias("rank"), "token", "freq")
        .orderBy("prefix", "rank")
    )


Q_AUTOCOMPLETE_SQL = r"""
WITH counts AS (
  SELECT token, COUNT(*) AS freq, substr(token, 1, 1) AS prefix
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
        FROM documents)
  WHERE length(token) >= 2
  GROUP BY token),
ranked AS (
  SELECT prefix, token, freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY prefix ORDER BY freq DESC, token) AS INT) AS rank,
         COUNT(*) OVER (PARTITION BY prefix) AS n_completions
  FROM counts)
SELECT prefix, rank, token, freq
FROM ranked WHERE rank <= 3 AND n_completions >= 2
ORDER BY prefix, rank
"""


# ---------------------------------------------- text normalization


@query
def q_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic normalization pass (lowercase → strip
    non-alphanumerics → collapse runs of spaces → trim) with change
    accounting per language. Patterns restricted to the Java-regex ∩
    RE2 common subset (character classes only — the PII_PATTERNS
    rule), so both engines rewrite identically."""
    docs = load_table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("lang", "text", norm.alias("norm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("norm") != F.col("text"), 1).otherwise(0)).alias(
                "n_changed"
            ),
            F.sum(F.length("text")).alias("chars_before"),
            F.sum(F.length("norm")).alias("chars_after"),
        )
        .orderBy("lang")
    )


Q_TEXT_NORMALIZE_SQL = """
WITH n AS (
  SELECT lang, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(length(text)) AS BIGINT) AS chars_before,
       CAST(SUM(length(norm)) AS BIGINT) AS chars_after
FROM n GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------ OLS trend per group


@query
def q_linear_trend(spark: SparkSession, sf: str) -> DataFrame:
    """OLS slope of value vs time per event type, x in days since the
    global minimum timestamp (centering keeps x² sums far below the
    decimal→double double-rounding bound — the q_stats_moments
    contract). Assembled from exact decimal partial sums with
    identical final double arithmetic on both engines."""
    ev = load_table(spark, sf, "events").select("event_type", "ts", "value")
    t0 = ev.agg(F.min(F.unix_micros("ts"))).first()[0]
    x = (F.unix_micros("ts") - F.lit(t0)).cast("double") / F.lit(86400000000.0)
    y = F.col("value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(_dec(x)).cast("double").alias("sx"),
        F.sum(_dec(y)).cast("double").alias("sy"),
        F.sum(_dec(x * x)).cast("double").alias("sxx"),
        F.sum(_dec(x * y)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    # n==1 / zero-time-spread groups: slope undefined -> NULL; no-op
    # wherever the group spans more than one instant
    var_x = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    cov = F.when(n > 1.0, (sxy - sx * sy / n) / (n - F.lit(1.0)))
    slope = F.when(var_x > 0, cov / var_x)
    intercept = sy / n - slope * (sx / n)
    return agg.select(
        "event_type",
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    ).orderBy("event_type")


Q_LINEAR_TREND_SQL = """
WITH t0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0
                       AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST((CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0)
                       * (CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST((CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0) * value
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM events, t0 GROUP BY event_type)
SELECT event_type,
       ((sxy - sx * sy / n) / (n - 1.0)) / ((sxx - sx * sx / n) / (n - 1.0)) AS slope_per_day,
       sy / n - (((sxy - sx * sy / n) / (n - 1.0)) / ((sxx - sx * sx / n) / (n - 1.0)))
              * (sx / n) AS intercept
FROM s ORDER BY event_type
"""


# ------------------------------------------- time-decayed popularity


@query
def q_decayed_score(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decayed score per event type: Σ value · 2^(−age_days),
    weight built as 1/(1<<days) — an EXACT power of two, no libm pow,
    so the weighted values are bit-identical before the decimal sum.
    The freshness-weighted popularity every ranking feed uses."""
    ev = load_table(spark, sf, "events").select("event_type", "ts", "value")
    tmax = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    if tmax is None:
        # empty events: no decay anchor
        return spark.createDataFrame(
            [], "event_type string, n bigint, decayed_score double"
        )
    weight = F.lit(1.0) / F.expr(
        f"shiftleft(1L, cast(({tmax}L - unix_micros(ts)) div 86400000000 as int))"
    ).cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value") * weight)).cast("double").alias("decayed_score"),
        )
        .orderBy("event_type")
    )


Q_DECAYED_SCORE_SQL = """
WITH tm AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
w AS (
  SELECT event_type, value,
         1.0 / CAST(1::BIGINT << CAST((tmax - epoch_us(ts)) // 86400000000 AS INT)
                    AS DOUBLE) AS weight
  FROM events, tm)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value * weight AS DECIMAL(38,6))) AS DOUBLE) AS decayed_score
FROM w GROUP BY event_type ORDER BY event_type
"""
