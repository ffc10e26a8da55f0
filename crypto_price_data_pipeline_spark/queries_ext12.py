"""Coverage wave 12 ([EXT]): operational monitoring and incremental
maintenance — streamed MERGE, skew diagnostics, classifier eval,
time-weighted aggregation, planner stats, drift monitoring.

- ``q_stream_merge`` — the streaming twin of ``q_merge_upsert``: the
  event feed replays in 3 micro-batch chunks, each batch lands its
  latest-change-per-key partial in a per-batch_id overwrite store
  (``streaming/merge_stream.py``), merge-on-read re-reduces (argmax is
  associative) and applies ONE batch MERGE — streamed ≡ batch, same
  oracle verbatim, whatever the chunking.
- ``q_skew_report`` — the join-key skew diagnostic that DECIDES
  salting/AQE settings: per key column (orders.o_custkey,
  lineitem.l_suppkey) the key count, max/p99 frequency, and top-10-key
  row share — one count agg per table plus a 10-row sum.
- ``q_lang_confusion`` — classifier evaluation: the language-ID
  confusion matrix (true lang × predicted) — integer counts, the
  model-quality artifact a curation pipeline tracks per corpus drop.
- ``q_time_weighted_avg`` — time-weighted mean of an irregular event
  series per user: Σ value·dt / Σ dt with value scaled to integer
  micro-units and products summed exactly (DECIMAL(38,0) on Spark,
  HUGEINT on DuckDB) — no order-dependent double accumulation.
- ``q_table_stats`` — ANALYZE-equivalent planner statistics (rows,
  exact NDV, null count, min/max) for five representative columns —
  the stats catalog that feeds broadcast/bucketing decisions.
- ``q_stream_vocab_drift`` — ingest-time vocabulary-drift monitor:
  docs replay in 3 chunks; each micro-batch reports its OOV rate
  against the frozen train-split vocabulary; per-chunk streamed
  metrics ≡ the batch per-chunk rule.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .session import materialize
from .streaming.partial_store import merge_sums, stream_partials
from .operators.text import tokenize
from .registry import query


# ------------------------------------------------ streamed MERGE INTO


@query(twin_of="q_merge_upsert")
def q_stream_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed CDC merge: events replay in 3 chunks; per-batch
    latest-per-user partials land per-batch_id; the read path
    re-reduces across batches (associative argmax ⇒ global latest) and
    applies q_merge_upsert's own MERGE."""
    from .queries_ext11 import _cdc_finish, _cdc_partial

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    stored = stream_partials(spark, ev, F.col("event_id") % 3, _cdc_partial, "stream_merge_")
    return _cdc_finish(spark, sf, _cdc_partial(stored))


# ---------------------------------------------- join-key skew report


def _skew_row(df: DataFrame, table: str, col: str) -> DataFrame:
    freq = df.groupBy(col).agg(F.count(F.lit(1)).alias("freq"))
    top10 = (
        freq.orderBy(F.col("freq").desc(), F.col(col))
        .limit(10)
        .agg(F.sum("freq").alias("top10"))
    )
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("freq").alias("n_rows"),
        F.max("freq").alias("max_freq"),
        F.expr("percentile(freq, 0.99)").alias("p99_freq"),
    )
    return stats.crossJoin(F.broadcast(top10)).select(
        F.lit(table).alias("table_name"),
        F.lit(col).alias("column_name"),
        "n_keys",
        "n_rows",
        "max_freq",
        "p99_freq",
        (F.col("top10").cast("double") / F.col("n_rows").cast("double")).alias(
            "top10_share"
        ),
    )


@query
def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnostic: frequency-distribution stats per key
    column — the measurement that decides whether a join needs
    salting, AQE skew splitting, or nothing. One combinable count agg
    per table; the top-10 share is a 10-row TakeOrdered + sum."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        _skew_row(orders, "orders", "o_custkey")
        .unionByName(_skew_row(li, "lineitem", "l_suppkey"))
        .orderBy("table_name")
    )


Q_SKEW_REPORT_SQL = """
WITH f1 AS (SELECT o_custkey AS k, COUNT(*) AS freq FROM orders GROUP BY 1),
t1 AS (SELECT CAST(SUM(freq) AS BIGINT) AS top10
       FROM (SELECT freq FROM f1 ORDER BY freq DESC, k LIMIT 10)),
s1 AS (SELECT COUNT(*) AS n_keys, CAST(SUM(freq) AS BIGINT) AS n_rows,
              MAX(freq) AS max_freq, quantile_cont(freq, 0.99) AS p99_freq
       FROM f1),
f2 AS (SELECT l_suppkey AS k, COUNT(*) AS freq FROM lineitem GROUP BY 1),
t2 AS (SELECT CAST(SUM(freq) AS BIGINT) AS top10
       FROM (SELECT freq FROM f2 ORDER BY freq DESC, k LIMIT 10)),
s2 AS (SELECT COUNT(*) AS n_keys, CAST(SUM(freq) AS BIGINT) AS n_rows,
              MAX(freq) AS max_freq, quantile_cont(freq, 0.99) AS p99_freq
       FROM f2)
SELECT 'lineitem' AS table_name, 'l_suppkey' AS column_name,
       s2.n_keys, s2.n_rows, s2.max_freq, s2.p99_freq,
       CAST(t2.top10 AS DOUBLE) / CAST(s2.n_rows AS DOUBLE) AS top10_share
FROM s2, t2
UNION ALL
SELECT 'orders', 'o_custkey', s1.n_keys, s1.n_rows, s1.max_freq, s1.p99_freq,
       CAST(t1.top10 AS DOUBLE) / CAST(s1.n_rows AS DOUBLE)
FROM s1, t1
ORDER BY table_name
"""


# ---------------------------------------- language-ID confusion matrix


@query(oracle=lambda: _lang_confusion_sql())
def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier eval: confusion matrix of the stopword-profile
    language ID against the ground-truth lang column — integer counts
    per (true, predicted) cell, one corpus pass + one count agg."""
    from .operators.text import language_id

    docs = load_table(spark, sf, "documents")
    return (
        language_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _lang_confusion_sql() -> str:
    from .queries_ext3 import _SW

    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> list_contains([{_SW["en"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_en,
         CAST(len(list_filter(t, x -> list_contains([{_SW["de"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_de,
         CAST(len(list_filter(t, x -> list_contains([{_SW["es"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_es,
         CAST(len(list_filter(t, x -> list_contains([{_SW["fr"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_fr
  FROM toks
),
pred AS (
  SELECT lang,
         CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) > 0 THEN
                CASE WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                     WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                     WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                     ELSE 'fr' END
              ELSE 'und' END AS lang_pred
  FROM scored
)
SELECT lang, lang_pred, COUNT(*) AS n
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


# -------------------------------------------- time-weighted average


@query
def q_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted mean of each user's irregular value series:
    Σ value·dt / Σ dt over consecutive-event intervals. Values scale
    to integer micro-units (ROUND(value·1e6) — identical half-away
    rounding on both engines) and every product/sum is exact integer
    arithmetic (DECIMAL(38,0) here, HUGEINT in DuckDB), so the single
    final division is the only float op. Reported at 9 decimals: the
    exact >2^53 integer numerator's cast to double differs in the last
    ulp between the engines (BigDecimal vs HUGEINT conversion), the
    same reason cosine scores ship as _r9. One window pass + one agg."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    val_u = F.round(F.col("value") * F.lit(1000000.0)).cast("long")
    terms = ev.select(
        "user_id",
        dt.alias("dt"),
        val_u.alias("val_u"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dt").alias("span_micros"),
            F.sum(F.col("val_u").cast("decimal(38,0)") * F.col("dt")).alias("_num"),
        )
        .where((F.col("n_events") >= 2) & (F.col("span_micros") > 0))
        .select(
            "user_id",
            "n_events",
            "span_micros",
            F.round(
                (F.col("_num").cast("double") / F.lit(1000000.0))
                / F.col("span_micros").cast("double"),
                9,
            ).alias("twa_value_r9"),
        )
        .orderBy("user_id")
    )


Q_TIME_WEIGHTED_AVG_SQL = """
WITH terms AS (
  SELECT user_id,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         - epoch_us(ts) AS dt,
         CAST(ROUND(value * 1000000.0) AS BIGINT) AS val_u
  FROM events),
agg AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(SUM(dt) AS BIGINT) AS span_micros,
         SUM(CAST(val_u AS HUGEINT) * dt) AS num
  FROM terms GROUP BY user_id)
SELECT user_id, n_events, span_micros,
       ROUND((CAST(num AS DOUBLE) / 1000000.0) / CAST(span_micros AS DOUBLE), 9) AS twa_value_r9
FROM agg WHERE n_events >= 2 AND span_micros > 0
ORDER BY user_id
"""


# ------------------------------------------------ planner statistics


_STATS_COLS = [
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("orders", "o_orderstatus"),
]


@query
def q_table_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-equivalent stats catalog: rows / exact NDV / nulls /
    min / max per column — the numbers a cost-based planner (or this
    repo's broadcast-vs-shuffle decisions) run on. One agg per column;
    at 100 TB the exact NDV swaps for the oracled HLL in
    q_approx_stats — this is the exact-maintenance path."""
    parts = []
    for table, col in _STATS_COLS:
        df = load_table(spark, sf, table)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(col).alias("ndv"),
                F.sum(
                    F.when(F.col(col).isNull(), 1).otherwise(0)
                ).alias("n_null"),
                F.min(col).cast("string").alias("min_val"),
                F.max(col).cast("string").alias("max_val"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(col).alias("column_name"),
                "n_rows",
                "ndv",
                "n_null",
                "min_val",
                "max_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name", "column_name")


Q_TABLE_STATS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, '{c}' AS column_name,
       COUNT(*) AS n_rows, COUNT(DISTINCT {c}) AS ndv,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(MIN({c}) AS VARCHAR) AS min_val, CAST(MAX({c}) AS VARCHAR) AS max_val
FROM {t}"""
    for t, c in _STATS_COLS
) + "\nORDER BY table_name, column_name"


# ------------------------------------------ streamed vocabulary drift


@query
def q_stream_vocab_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time drift monitor: the corpus replays in 3 chunks; each
    micro-batch measures its token count and OOV rate against the
    FROZEN train-split vocabulary (q_vocab_coverage's rule) and lands
    the per-chunk partial in a per-batch_id overwrite store. Additive
    partials re-sum on read, so streamed per-chunk metrics ≡ the batch
    per-chunk rule regardless of batch boundaries.

    r13: the frozen vocabulary is DERIVED FROM the stored counting
    cube (artifacts.token_lang_counts — train df = sum of per-cell
    df over train nibbles), so freezing it costs a vocabulary-sized
    aggregation, not a corpus tokenize; the per-batch tokenize is the
    irreducible ingest-side measurement. Tokenizer follows the cube
    (tokens_col, lower + non-alnum split) so stream and vocabulary
    agree on what a token is — q_vocab_coverage's r13 rule."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tc = token_lang_counts(spark, sf)
    vocab = (
        tc.where(~F.col("nib").isin("c", "d", "e", "f"))
        .groupBy(F.col("w").alias("token"))
        .agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(256)
        .select("token", F.lit(1).alias("_in_vocab"))
        .transform(materialize)
    )

    def metrics(batch: DataFrame) -> DataFrame:
        toks = batch.select(
            (F.col("doc_id") % 3).alias("chunk"),
            "doc_id",
            F.explode(tokens_col("text")).alias("token"),
        )
        return (
            toks.join(F.broadcast(vocab), "token", "left")
            .groupBy("chunk")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_tok"),
                F.sum(
                    F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
                ).alias("n_oov"),
            )
        )

    stored = stream_partials(spark, docs, F.col("doc_id") % 3, metrics, "stream_vocab_")
    return (
        merge_sums(stored, "chunk")
        .withColumn(
            "oov_rate", F.col("n_oov").cast("double") / F.col("n_tok").cast("double")
        )
        .orderBy("chunk")
    )


Q_STREAM_VOCAB_DRIFT_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
  FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT unnest(list_distinct(toks)) AS token
    FROM d WHERE nib NOT IN ('c', 'd', 'e', 'f'))
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 256),
all_tok AS (
  SELECT doc_id % 3 AS chunk, doc_id, unnest(toks) AS token FROM d)
SELECT a.chunk,
       COUNT(DISTINCT a.doc_id) AS n_docs,
       COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM all_tok a LEFT JOIN vocab v ON a.token = v.token
GROUP BY a.chunk ORDER BY a.chunk
"""
