"""Coverage wave 14 ([EXT]): product analytics, trainer I/O ordering,
RAG chunking, incremental statistics, association analysis.

- ``q_cohort_retention`` — weekly cohort retention: users grouped by
  first-activity week, counted per (cohort, week-offset) cell — the
  classic OLAP retention triangle, all integer date arithmetic.
- ``q_ab_assign`` — deterministic experiment assignment (md5 arm
  split) + per-arm conversion readout: users, purchases, purchasers,
  conversion rate — hash bucketing means assignment is reproducible
  on any engine with no stored mapping.
- ``q_block_shuffle`` — the trainer's shuffle-buffer order: 64-doc
  blocks permuted by block hash, docs permuted within blocks — keeps
  shard I/O locality while still shuffling, computed with the same
  two-phase bucketed rank (no global sort); per-block manifest rows.
- ``q_sliding_chunks`` — overlapping RAG chunking: 32-token windows
  at stride 16 per doc, in-row sequence + slice (zero shuffle until
  the final per-language aggregate).
- ``q_stream_moments`` — incremental second-moment maintenance: each
  micro-batch lands exact DECIMAL(38,6) partial sums (n, Σx, Σy, Σxx,
  Σyy, Σxy) per group; read-side decimal re-sum + q_stats_moments' own
  finish ⇒ streamed ≡ batch, same oracle verbatim (partials are
  associative by construction).
- ``q_cooccurrence`` — token association lift over the top-32
  vocabulary: lift = n_ab·N / (n_a·n_b) with exact integer products
  and a single float division; bounded-quadratic by the vocabulary
  cap, the PMI-style co-occurrence miner.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import dsum
from .io.sources import load_table
from .streaming.partial_store import merge_sums, stream_partials
from .operators.text import tokenize
from .registry import query


# ------------------------------------------------- cohort retention


def _retention_partial(ev: DataFrame) -> dict[str, DataFrame]:
    """Per-user first activity (MIN ts) and the distinct (user, week)
    pairs — MIN and distinct-union both merge across any row split."""
    return {
        "firsts": ev.groupBy("user_id").agg(F.min("ts").alias("min_ts")),
        "weeks": ev.select(
            "user_id", F.date_trunc("week", "ts").alias("week_ts")
        ).distinct(),
    }


def _retention_finish(firsts: DataFrame, weeks: DataFrame) -> DataFrame:
    first = firsts.select(
        "user_id", F.date_trunc("week", "min_ts").alias("cohort_ts")
    )
    return (
        weeks.join(F.broadcast(first), "user_id")
        .select(
            F.date_format("cohort_ts", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("week_ts"), F.col("cohort_ts")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


@query
def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle: cohort = ISO week of the user's
    first event; each (cohort, offset) cell counts distinct users
    active that many weeks later. Two aggs + one broadcast join —
    integer day arithmetic only (week offsets divide exactly by 7)."""
    parts = _retention_partial(load_table(spark, sf, "events").select("user_id", "ts"))
    return _retention_finish(parts["firsts"], parts["weeks"])


Q_COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_ts
  FROM events GROUP BY user_id),
weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week_ts FROM events)
SELECT strftime(f.cohort_ts, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort_ts, w.week_ts) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM weeks w JOIN first f ON w.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------- A/B assignment readout


@query
def q_ab_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic experiment split (md5 first nibble: 0-7 control,
    8-f treatment) + per-arm conversion metrics in one pass — hash
    assignment reproduces identically on any engine, no stored
    mapping, no RNG."""
    ev = load_table(spark, sf, "events")
    nib = F.substring(F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 1)
    arm = F.when(
        nib.isin("0", "1", "2", "3", "4", "5", "6", "7"), "control"
    ).otherwise("treatment")
    is_p = F.col("event_type") == "purchase"
    return (
        ev.withColumn("arm", arm)
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias("n_purchases"),
            dsum(F.when(is_p, F.col("value")).otherwise(F.lit(0.0))).alias(
                "purchase_value"
            ),
            F.countDistinct(F.when(is_p, F.col("user_id"))).alias("purchasers"),
        )
        .withColumn(
            "conv_rate",
            F.col("purchasers").cast("double") / F.col("n_users").cast("double"),
        )
        .orderBy("arm")
    )


Q_AB_ASSIGN_SQL = """
WITH tagged AS (
  SELECT *,
         CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'control' ELSE 'treatment' END AS arm
  FROM events)
SELECT arm,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                     AS DECIMAL(38,6))) AS DOUBLE) AS purchase_value,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS DOUBLE)
       / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS conv_rate
FROM tagged GROUP BY arm ORDER BY arm
"""


# ------------------------------------------- block-shuffled ordering


@query
def q_block_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-buffer training order: 64-doc blocks permuted by block
    hash, docs permuted within each block — preserves shard I/O
    locality while shuffling, and the two-phase bucketed rank keeps it
    global-sort-free. Per-block manifest proves block contiguity."""
    from .operators.ordering import global_order_index, hex_prefix_bucket

    docs = load_table(spark, sf, "documents").select("doc_id")
    keyed = docs.withColumn("_blk", F.expr("doc_id div 64")).withColumn(
        "_k1", F.md5(F.concat(F.lit("blk7:"), F.col("_blk").cast("string")))
    ).withColumn(
        "_k2", F.md5(F.concat(F.lit("doc7:"), F.col("doc_id").cast("string")))
    )
    ranked = global_order_index(
        keyed,
        ["_k1", "_k2", "doc_id"],
        hex_prefix_bucket("_k1", 2),
        num_buckets=256,
    )
    return (
        ranked.groupBy(F.col("_blk").alias("block"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("block")
    )


Q_BLOCK_SHUFFLE_SQL = """
WITH ranked AS (
  SELECT doc_id, doc_id // 64 AS block,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('blk7:' || CAST(doc_id // 64 AS VARCHAR)),
                    md5('doc7:' || CAST(doc_id AS VARCHAR)),
                    doc_id) AS BIGINT) AS pos
  FROM documents)
SELECT block, COUNT(*) AS n_docs, MIN(pos) AS first_pos, MAX(pos) AS last_pos,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ranked GROUP BY block ORDER BY block
"""


# --------------------------------------------- sliding-window chunks


@query
def q_sliding_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping RAG chunking: 32-token windows at stride 16
    (n_chunks = 1 + ⌊max(n_tok−32, 0)/16⌋), built in-row with
    sequence + slice — zero shuffle until the per-language rollup.
    The ~2× token duplication factor is the price of overlap and is
    visible in n_chunk_tokens vs the corpus token count."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", tokenize("text").alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    chunks = (
        docs.where(F.col("n_tok") > 0)
        .withColumn(
            "n_chunks",
            F.lit(1) + F.expr("greatest(n_tok - 32, 0) div 16").cast("int"),
        )
        .select(
            "doc_id",
            "lang",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("idx"),
        )
        .select(
            "doc_id",
            "lang",
            F.size(F.slice("toks", F.col("idx") * 16 + 1, F.lit(32))).alias("n_ct"),
        )
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_ct").alias("n_chunk_tokens"),
        )
        .orderBy("lang")
    )


Q_SLIDING_CHUNKS_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents),
sized AS (
  SELECT doc_id, lang, toks, len(toks) AS n_tok,
         1 + CAST(GREATEST(len(toks) - 32, 0) // 16 AS INT) AS n_chunks
  FROM d WHERE len(toks) > 0),
chunks AS (
  SELECT doc_id, lang,
         len(list_slice(toks, idx * 16 + 1, idx * 16 + 32)) AS n_ct
  FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS t(idx))
SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
       CAST(SUM(n_ct) AS BIGINT) AS n_chunk_tokens
FROM chunks GROUP BY lang ORDER BY lang
"""


# ------------------------------------------ streamed second moments


@query(twin_of="q_stats_moments")
def q_stream_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental statistics maintenance: lineitem replays in 3
    chunks; each micro-batch lands its exact DECIMAL(38,6) partial
    sums per return flag (the map-side-combinable subform of
    q_stats_moments — associative, so any chunking re-sums to the
    batch totals bit-exactly); the read side re-sums and runs
    q_stats_moments' own finish. Oracle = Q_STATS_MOMENTS_SQL verbatim."""
    from .queries_ext3 import _moments_finish, _moments_partial

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_discount"
    )
    sums = stream_partials(
        spark, li, F.col("l_orderkey") % 3, _moments_partial, "stream_moments_"
    )
    return _moments_finish(merge_sums(sums, "l_returnflag"))


# ------------------------------------------- co-occurrence lift


@query
def q_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    """Association mining over the top-32 vocabulary: pair lift
    n_ab·N / (n_a·n_b) from exact integer document counts (single
    float division at the end). The vocabulary cap bounds the pair
    space to C(32,2) per doc — the standard way co-occurrence stays
    sub-quadratic on a 100-TB corpus."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.array_distinct(tokenize("text")).alias("toks")
    )
    n_docs = docs.count()  # scalar, O(1)
    dt = docs.select("doc_id", F.explode("toks").alias("token"))
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .orderBy(F.col("n_t").desc(), F.col("token"))
        .limit(32)
    )
    dt_top = dt.join(F.broadcast(top), "token")
    a = dt_top.select("doc_id", F.col("token").alias("tok_a"), F.col("n_t").alias("n_a"))
    b = dt_top.select("doc_id", F.col("token").alias("tok_b"), F.col("n_t").alias("n_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 10)
    )
    lift = (F.col("n_ab") * F.lit(n_docs)).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        pairs.select("tok_a", "tok_b", "n_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(20)
    )


Q_COOCCURRENCE_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks
  FROM documents),
dt AS (SELECT doc_id, unnest(toks) AS token FROM d),
top AS (
  SELECT token, COUNT(*) AS n_t FROM dt
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 32),
dtt AS (SELECT dt.doc_id, dt.token, top.n_t FROM dt JOIN top ON dt.token = top.token),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, a.n_t AS n_a, b.n_t AS n_b,
         COUNT(*) AS n_ab
  FROM dtt a JOIN dtt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 10)
SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab * (SELECT COUNT(*) FROM d) AS DOUBLE)
       / CAST(n_a * n_b AS DOUBLE) AS lift
FROM pairs
ORDER BY lift DESC, tok_a, tok_b LIMIT 20
"""
