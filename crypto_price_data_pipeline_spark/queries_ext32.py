"""Coverage wave 32 ([EXT]): revenue decomposition, per-source dedup
health, streamed survival.

- ``q_gmv_waterfall`` — the finance waterfall: gross lineitem value,
  discount give-back, net, tax, billed — exact decimal components
  with share ratios, one corpus pass.
- ``q_dedup_rate_by_source`` — which sources are dirtiest: near-dup
  clusters (the exact-verified MinHash rule) resolved to absorbed
  docs, rolled up per source as an absorbed-rate — the signal that
  re-weights or drops a crawl source. Oracle: the provenance
  recursive-CTE closure joined back to sources.
- ``q_stream_survival`` — streamed q_survival_curve: per-user
  (min day, max day) is a semilattice merge (MIN and MAX are both
  mergeable), so per-batch partials stitch exactly. Same oracle
  verbatim.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query
from .session import materialize
from .streaming.partial_store import day_chunk_expr, stream_partials


# ---------------------------------------------- GMV waterfall


@query
def q_gmv_waterfall(spark: SparkSession, sf: str) -> DataFrame:
    """One row: gross → discount → net → tax → billed, all exact
    decimal sums, plus the discount and tax rates as r9 ratios."""
    li = load_table(spark, sf, "lineitem").select(
        "l_extendedprice", "l_discount", "l_tax"
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    gross = F.sum(dec(F.col("l_extendedprice")))
    disc = F.sum(dec(F.col("l_extendedprice") * F.col("l_discount")))
    net = F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    tax = F.sum(
        dec(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax"))
    )
    agg = li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        gross.cast("double").alias("gross"),
        disc.cast("double").alias("discount_amt"),
        net.cast("double").alias("net"),
        tax.cast("double").alias("tax_amt"),
    )
    return agg.select(
        "n_lines",
        F.round("gross", 6).alias("gross_r6"),
        F.round("discount_amt", 6).alias("discount_r6"),
        F.round("net", 6).alias("net_r6"),
        F.round("tax_amt", 6).alias("tax_r6"),
        F.round(F.col("net") + F.col("tax_amt"), 6).alias("billed_r6"),
        F.round(F.col("discount_amt") / F.col("gross"), 9).alias(
            "discount_rate_r9"
        ),
        F.round(F.col("tax_amt") / F.col("net"), 9).alias("tax_rate_r9"),
    )


Q_GMV_WATERFALL_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS gross,
         CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS discount_amt,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS net,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * l_tax AS DECIMAL(38,6))) AS DOUBLE) AS tax_amt
  FROM lineitem)
SELECT n_lines,
       ROUND(gross, 6) AS gross_r6,
       ROUND(discount_amt, 6) AS discount_r6,
       ROUND(net, 6) AS net_r6,
       ROUND(tax_amt, 6) AS tax_r6,
       ROUND(net + tax_amt, 6) AS billed_r6,
       ROUND(discount_amt / gross, 9) AS discount_rate_r9,
       ROUND(tax_amt / net, 9) AS tax_rate_r9
FROM agg
"""


# ------------------------------------------ per-source dedup rate


@query
def q_dedup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per source: docs, absorbed near-dups (non-survivor members of
    exact-verified MinHash clusters), and the absorbed rate. The
    Spark side reuses the banded pipeline + components; the oracle
    replays the exact pair rule's recursive closure."""
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    pairs = pairs.transform(materialize)
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(nodes, pairs, id_col="doc_id")
    absorbed = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    flagged = docs.select("doc_id", "source").join(
        absorbed.withColumn("is_absorbed", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_absorbed", F.lit(0))).cast("long").alias(
                "n_absorbed"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_absorbed",
            F.round(
                F.col("n_absorbed").cast("double") / F.col("n_docs").cast("double"),
                9,
            ).alias("absorbed_rate_r9"),
        )
        .orderBy("source")
    )


Q_DEDUP_RATE_BY_SOURCE_SQL = """
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
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS component FROM reach GROUP BY n),
absorbed AS (SELECT doc_id FROM clusters WHERE doc_id <> component)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_absorbed,
       ROUND(CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS absorbed_rate_r9
FROM documents d LEFT JOIN absorbed a ON a.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""


# ------------------------------------------ streamed survival


@query(twin_of="q_survival_curve")
def q_stream_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_survival_curve (same oracle): per-batch per-user
    (min day, max day) partials — q_survival_curve's own partial — are
    a semilattice merge; the read side folds them to global spans and
    runs the 30-row ladder against the spans directly. The batch
    query's span histogram would add a shuffle stage (one more Spark
    job per call at sf0.001) after the merge's own per-user
    aggregation, so the two ladders stay separate."""
    from .queries_ext31 import _survival_ladder, _survival_partial

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    stored = stream_partials(spark, ev, day_chunk_expr(), _survival_partial, "stream_surv_")
    spans = stored.groupBy("user_id").agg(
        F.datediff(F.max("dmax"), F.min("dmin")).alias("span")
    )
    ks = spark.createDataFrame([(k,) for k in range(30)], "k long")
    return _survival_ladder(
        ks.crossJoin(spans)
        .where(F.col("span") >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_surviving"))
    )
