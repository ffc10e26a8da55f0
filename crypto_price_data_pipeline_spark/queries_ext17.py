"""Coverage wave 17 ([EXT]): dedup provenance, funnel analysis,
uncertainty quantification, order-sensitive streaming, TS bands.

- ``q_dedup_provenance`` — the dedup audit trail: near-dup clusters
  (exact-verified MinHash pairs → connected components) reported as
  survivor + sorted absorbed-id list + membership checksum — the
  artifact that lets a curation run answer "where did my documents
  go". Oracle: recursive-CTE components over the exact pair rule.
- ``q_strict_funnel`` — ordered-stage funnel (signup → later click →
  later purchase, unbounded gaps): per-stage user counts and
  conversion rates via chained min-after-min aggregates, dimensions
  broadcast.
- ``q_subsample_ci`` — deterministic uncertainty: 16 disjoint md5
  subsamples, per-bucket mean token count, spread of bucket means —
  the RNG-free jackknife that bounds a corpus metric's stability.
- ``q_stream_bigrams`` — ORDER-SENSITIVE streaming: event transitions
  are not additive across micro-batches, so each batch lands in-batch
  pair counts PLUS per-user boundary rows (first/last event); the
  read side stitches last(chunk_i)→first(next present chunk) per
  user. Chunks split on time (day ranges), so per-user in-batch order
  is globally contiguous. Streamed ≡ batch q_event_bigrams, same
  oracle verbatim.
- ``q_daily_bands`` — daily percentile bands (p10/p50/p90) of the
  event value — the TS band chart feed (exact interpolated
  percentiles, q_percentiles contract).

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


# ---------------------------------------------- dedup provenance


@query
def q_dedup_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters with full provenance: exact-verified MinHash
    pairs (Jaccard ≥ 0.5) → connected components → one row per
    multi-member cluster: survivor (min id), member count, sorted
    absorbed ids, id checksum."""
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    comp = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("doc_id") != F.col("component"), F.col("doc_id"))
                    )
                ).cast("array<string>"),
                ",",
            ).alias("absorbed_ids"),
            F.sum("doc_id").alias("member_checksum"),
        )
        .where(F.col("n_members") >= 2)
        .select(
            F.col("component").alias("survivor"),
            "n_members",
            "absorbed_ids",
            "member_checksum",
        )
        .orderBy("survivor")
    )


Q_DEDUP_PROVENANCE_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS component FROM reach GROUP BY n)
SELECT component AS survivor,
       COUNT(*) AS n_members,
       array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE doc_id <> component),
                       ',') AS absorbed_ids,
       CAST(SUM(doc_id) AS BIGINT) AS member_checksum
FROM clusters
GROUP BY component HAVING COUNT(*) >= 2
ORDER BY survivor
"""


# ------------------------------------------------- strict funnel


@query
def q_strict_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-stage funnel: users who signed up, then clicked AFTER
    their first signup, then purchased AFTER that first click.
    Chained min-after-min aggregates; each stage table is user-sized
    and broadcasts into the next filter."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_type")
    s1 = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1, n2, n3 = s1.count(), s2.count(), s3.count()
    return spark.createDataFrame(
        [
            (
                n1,
                n2,
                n3,
                (n2 / n1) if n1 else None,
                (n3 / n2) if n2 else None,
            )
        ],
        "n_signup bigint, n_then_click bigint, n_then_purchase bigint,"
        " rate_click double, rate_purchase double",
    )


Q_STRICT_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
       (SELECT COUNT(*) FROM s2) AS n_then_click,
       (SELECT COUNT(*) FROM s3) AS n_then_purchase,
       CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
       / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) AS rate_click,
       CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
       / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) AS rate_purchase
"""


# ------------------------------------------- subsample uncertainty


@query
def q_subsample_ci(spark: SparkSession, sf: str) -> DataFrame:
    """RNG-free uncertainty band for a corpus metric: 16 disjoint md5
    subsamples, mean token count per bucket, spread of bucket means —
    all exact integer sums divided once per bucket. If the spread is
    tight, the metric is stable under resampling; no random state, so
    the band reproduces on any engine."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents").select(
        F.substring(F.md5(F.concat(F.lit("ci:"), F.col("doc_id").cast("string"))), 1, 1)
        .alias("bucket"),
        F.size(tokenize("text")).alias("n_tok"),
    )
    bucket_means = docs.groupBy("bucket").agg(
        (F.sum("n_tok").cast("double") / F.count(F.lit(1)).cast("double")).alias("m"),
        F.sum("n_tok").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return bucket_means.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (F.sum("s").cast("double") / F.sum("c").cast("double")).alias("grand_mean"),
        F.min("m").alias("min_bucket_mean"),
        F.max("m").alias("max_bucket_mean"),
        (F.max("m") - F.min("m")).alias("spread"),
    )


Q_SUBSAMPLE_CI_SQL = r"""
WITH d AS (
  SELECT substr(md5('ci:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents),
b AS (
  SELECT bucket,
         CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(n_tok) AS BIGINT) AS s, COUNT(*) AS c
  FROM d GROUP BY bucket)
SELECT COUNT(*) AS n_buckets,
       CAST(SUM(s) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS grand_mean,
       MIN(m) AS min_bucket_mean,
       MAX(m) AS max_bucket_mean,
       MAX(m) - MIN(m) AS spread
FROM b
"""


# --------------------------------------- order-sensitive streaming


@query(twin_of="q_event_bigrams")
def q_stream_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed event-transition mining — the order-SENSITIVE case:
    pairs spanning batch boundaries are invisible to any per-batch
    count, so each batch lands (a) in-batch pair counts and (b) each
    user's first/last boundary event; the read side stitches
    last(chunk) → first(user's next present chunk). Chunks cut on
    TIME (10-day ranges), so per-user in-batch order is globally
    contiguous — the precondition the stitching relies on. Streamed
    top-10 ≡ batch q_event_bigrams, same oracle. The batch query keeps
    its one lead window: run over the whole table as one batch, the
    stitch would count every cross-chunk transition a second time."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )

    def partial(batch: DataFrame) -> dict[str, DataFrame]:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = (
            batch.select(
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .where(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        bounds = batch.groupBy(
            "user_id", day_chunk_expr().alias("chunk")
        ).agg(
            F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
                "first_type"
            ),
            F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
                "last_type"
            ),
        )
        return {"pairs": pairs, "bounds": bounds}

    parts = stream_partials(spark, ev, day_chunk_expr(), partial, "stream_bigrams_")
    in_batch, bounds = parts["pairs"], parts["bounds"]
    wseq = Window.partitionBy("user_id").orderBy("chunk")
    stitched = (
        bounds.select(
            "user_id",
            "chunk",
            "last_type",
            F.lead("first_type").over(wseq).alias("next_first"),
        )
        .where(F.col("next_first").isNotNull())
        .groupBy(
            F.col("last_type").alias("from_type"),
            F.col("next_first").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        in_batch.unionByName(stitched)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(10)
    )


# ---------------------------------------------- daily value bands


@query
def q_daily_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Daily p10/p50/p90 bands of the event value — the band-chart
    feed; exact interpolated percentiles per day bucket, rounded to
    9 places — the interpolation lo + frac·(hi−lo) differs in the
    last ulp between engines (first observed at sf0.1: 5.06 vs
    5.06…05), and values are O(100) so r9 canonicalizes safely."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.1)"), 9).alias("p10"),
            F.round(F.expr("percentile(value, 0.5)"), 9).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 9).alias("p90"),
        )
        .orderBy("day")
    )


Q_DAILY_BANDS_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.1), 9) AS p10,
       ROUND(quantile_cont(value, 0.5), 9) AS p50,
       ROUND(quantile_cont(value, 0.9), 9) AS p90
FROM events GROUP BY 1 ORDER BY 1
"""
