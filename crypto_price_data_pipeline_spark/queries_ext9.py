"""Coverage wave 9 ([EXT], SURVEY.md §2.11): pipeline hygiene and
reproducibility — the operational layer a 100-TB training-data refinery
runs around its filters.

- ``q_training_order`` — deterministic global epoch shuffle: every doc
  gets its 1-based position under ``ORDER BY md5(seed || doc_id)``
  computed by ``operators/ordering.global_order_index`` (two-phase
  bucketed rank, NO global sort; bit-identical to the one-partition
  window, which this oracle proves).
- ``q_curation_report`` — the curation funnel's audit trail: per-stage
  in/dropped/out counts for a sequential gate chain (length → language
  → repetition), computed in ONE corpus pass (conditional aggregates,
  single 1-row agg) instead of re-scanning per stage.
- ``q_source_cap`` — C4-style per-source quota clipping: keep at most K
  docs per source, chosen by md5(doc_id) order. Two-phase skew-safe
  top-K: a salted ``(source, doc_id % 8)`` window prunes to ≤8K rows
  per source before the exact per-source window, so a hot host never
  lands on one task.
- ``q_chunk_roundtrip`` — chunking losslessness check: re-assemble the
  32-token chunks in index order and verify the rebuild equals the
  original token stream, per language. The integrity gate you run
  after any chunk/shard step before feeding a trainer.
- ``q_stream_contamination`` — ingest-time benchmark decontamination:
  the corpus replays as a stream and each micro-batch drops arrivals
  sharing a 5-gram with the (planted, q_contamination-identical)
  benchmark set, landing drop decisions in a per-batch_id overwrite
  store. Union of per-batch drops ≡ the batch rule, chunking-invariant.
- ``q_zscore_outliers`` — statistical outlier cut over events: per-type
  z-scores assembled from exact decimal partial sums (the
  q_stats_moments subform contract, so both engines compute identical
  doubles), |z| > 2.5 rows emitted. One map-side-combinable agg +
  broadcast join back; the anomaly gate for metric streams.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .streaming.partial_store import stream_partials
from .operators.text import tokenize
from .queries_ext5 import _grams5
from .registry import query
from .session import scratch_dir


# ------------------------------------ deterministic epoch shuffle


@query
def q_training_order(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible global training order (the epoch shuffle): rank
    every doc by ``md5('epoch0:' || doc_id)`` via the bucketed
    two-phase rank — the oracle's single ROW_NUMBER() window proves the
    distributed rank is bit-identical to the global sort it avoids."""
    from .operators.ordering import epoch_shuffle

    docs = load_table(spark, sf, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", seed="epoch0").orderBy("doc_id")


Q_TRAINING_ORDER_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents ORDER BY doc_id
"""


# ------------------------------------------ curation funnel report


@query
def q_curation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-gate audit report in ONE corpus pass: every doc's
    stage flags are conditional expressions in a single projection, the
    funnel is four partial sums in one 1-row aggregate, and the
    per-stage rows are exploded from that row — a 100-TB audit costs
    one scan, not one scan per stage. Gates: length 100-500 chars →
    lang allowlist → repetition_ratio ≤ 0.64 (the q_quality_scores
    definition, so the signal is shared with the scoring query)."""
    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1))
    f1 = F.col("n_chars").between(100, 500)
    f2 = f1 & F.col("lang").isin("en", "es", "de", "fr")
    f3 = f2 & (F.round(rep, 9) <= 0.64)
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(f1, one).otherwise(zero)).alias("n1"),
        F.sum(F.when(f2, one).otherwise(zero)).alias("n2"),
        F.sum(F.when(f3, one).otherwise(zero)).alias("n3"),
    )
    n, n1, n2, n3 = F.col("n"), F.col("n1"), F.col("n2"), F.col("n3")

    def stage(name: str, n_in, n_out):
        return F.struct(
            F.lit(name).alias("stage"),
            n_in.cast("bigint").alias("n_in"),
            (n_in - n_out).cast("bigint").alias("n_dropped"),
            n_out.cast("bigint").alias("n_out"),
        )

    return (
        agg.select(
            F.explode(
                F.array(
                    stage("1_length", n, n1),
                    stage("2_lang", n1, n2),
                    stage("3_repetition", n2, n3),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("stage")
    )


Q_CURATION_REPORT_SQL = r"""
WITH q AS (
  SELECT n_chars, lang,
         1.0 - CAST(len(list_distinct(toks)) AS BIGINT) / GREATEST(CAST(len(toks) AS BIGINT), 1) AS rep
  FROM (SELECT n_chars, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents)
),
f AS (
  SELECT CAST(n_chars BETWEEN 100 AND 500 AS INT) AS f1,
         CAST(n_chars BETWEEN 100 AND 500 AND lang IN ('en','es','de','fr') AS INT) AS f2,
         CAST(n_chars BETWEEN 100 AND 500 AND lang IN ('en','es','de','fr')
              AND ROUND(rep, 9) <= 0.64 AS INT) AS f3
  FROM q
),
a AS (SELECT COUNT(*) AS n, SUM(f1) AS n1, SUM(f2) AS n2, SUM(f3) AS n3 FROM f)
SELECT '1_length' AS stage, CAST(n AS BIGINT) AS n_in,
       CAST(n - n1 AS BIGINT) AS n_dropped, CAST(n1 AS BIGINT) AS n_out FROM a
UNION ALL SELECT '2_lang', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT) FROM a
UNION ALL SELECT '3_repetition', CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT), CAST(n3 AS BIGINT) FROM a
ORDER BY stage
"""


# ------------------------------------------- per-source quota cap


@query
def q_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source absolute quota (keep ≤15 docs per source by
    md5(doc_id) order — the C4/CCNet host-level clip). Two-phase
    skew-safe top-K: phase 1 windows over ``(source, doc_id % 8)`` —
    the salt spreads a hot source over 8 tasks and its per-salt top-15
    provably contains the per-source top-15 (dropping a row ranked >15
    within its own salt can never promote it globally) — phase 2 takes
    the exact per-source top-15 from the ≤ 8·15 survivors. The hot-key
    shuffle is the salted one; the exact window sees bounded input."""
    docs = load_table(spark, sf, "documents").select("source", "doc_id")
    k = 15
    key = F.md5(F.col("doc_id").cast("string"))
    salted = docs.withColumn("_key", key).withColumn(
        "_salt", F.pmod(F.col("doc_id"), F.lit(8))
    )
    w1 = Window.partitionBy("source", "_salt").orderBy("_key", "doc_id")
    pruned = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("source").orderBy("_key", "doc_id")
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


Q_SOURCE_CAP_SQL = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t
WHERE rn <= 15 ORDER BY source, doc_id
"""


# -------------------------------------- chunk re-assembly integrity


@query
def q_chunk_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Chunking losslessness gate: split every doc into the 32-token
    chunks the dedup/RAG queries use (q_chunk_dedup's chunker, with
    chunk text kept), re-assemble in chunk-index order, and count per
    language how many docs rebuild EXACTLY to their original token
    stream. n_roundtrip_ok == n_docs is the invariant a shard step
    must preserve; any drift (lost chunk, misordered index, tokenizer
    mismatch) shows up as a shortfall. One explode + one grouped
    in-row fold (array_sort on (idx, txt) structs → join) — no join
    back to the corpus; lang/original ride the group as constants."""
    k = 32
    docs = load_table(spark, sf, "documents")
    alnum = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    toked = docs.select(
        "doc_id", "lang", alnum.alias("_t")
    ).where(F.size("_t") > 0)
    chunks = toked.select(
        "doc_id",
        "lang",
        F.concat_ws(" ", "_t").alias("orig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("_t") / k).cast("int") - 1),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.concat_ws(" ", F.slice("_t", i * k + 1, k)).alias("txt"),
                ),
            )
        ).alias("c"),
    )
    reasm = chunks.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.first("orig").alias("orig"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("c")), lambda x: x["txt"]
            ),
            " ",
        ).alias("rebuilt"),
    )
    return (
        reasm.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("rebuilt") == F.col("orig"), F.lit(1)).otherwise(0)
            )
            .cast("bigint")
            .alias("n_roundtrip_ok"),
        )
        .orderBy("lang")
    )


Q_CHUNK_ROUNDTRIP_SQL = """
WITH toked AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, lang, array_to_string(t, ' ') AS orig, i AS idx,
         array_to_string(t[i*32+1 : i*32+32], ' ') AS txt
  FROM toked, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
  ) ix
  WHERE len(t) > 0
),
re AS (
  SELECT doc_id, any_value(lang) AS lang, any_value(orig) AS orig,
         string_agg(txt, ' ' ORDER BY idx) AS rebuilt
  FROM chunks GROUP BY doc_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rebuilt = orig THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
FROM re GROUP BY lang ORDER BY lang
"""


# --------------------------------- ingest-time decontamination


@query
def q_stream_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time benchmark decontamination: the corpus replays as a
    3-chunk stream; each micro-batch explodes its docs' distinct
    5-grams, broadcast-joins the (static, planted exactly like
    q_contamination) benchmark gram set, and lands the batch's DROP
    decisions in a per-batch_id overwrite store — replay-idempotent
    like every store here. Because "shares ≥1 benchmark gram" is a pure
    per-doc predicate given the broadcast benchmark side, the union of
    per-batch drops must equal the batch rule EXACTLY regardless of
    chunking — which is what the oracle checks. This is how eval-set
    hygiene is enforced while the corpus streams in, instead of a
    full re-scan after landing."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    alnum = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    tokenized = docs.select("doc_id", alnum.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    bench = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
        .select(F.explode(_grams5(F.col("_t"))).alias("gram"))
        .distinct()
    )
    bench.persist().count()  # settle the benchmark side once, pre-stream

    def dropped(batch: DataFrame) -> DataFrame:
        b = batch.select(
            "doc_id",
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
            ).alias("_t"),
        ).where(F.col("doc_id") % 97 != 0)
        return (
            b.select("doc_id", F.explode(_grams5(F.col("_t"))).alias("gram"))
            .join(F.broadcast(bench), "gram")
            .select("doc_id")
            .distinct()
        )

    out = stream_partials(spark, docs, F.col("doc_id") % 3, dropped, "stream_decon_")
    bench.unpersist()
    return out.orderBy("doc_id")


Q_STREAM_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, len(t) - 3),
                     i -> array_to_string(t[i:i+4], ' ')))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
),
donor AS (
  SELECT doc_id - 1 AS doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(list_slice(t, 1, 30)) - 3, 1)),
                     i -> array_to_string(list_slice(t, 1, 30)[i:i+4], ' ')))
              ELSE [array_to_string(list_slice(t, 1, 30), ' ')] END AS g
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(d.g) AS gram
  FROM donor d JOIN grams orig ON orig.doc_id = d.doc_id
  WHERE d.doc_id % 97 = 0
),
t_expl AS (SELECT doc_id AS train_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0)
SELECT DISTINCT train_id AS doc_id
FROM t_expl JOIN bench USING (gram)
ORDER BY doc_id
"""


# ------------------------------------------ statistical outlier cut


@query
def q_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5): the anomaly gate
    for metric streams. Mean/stddev are assembled from exact
    DECIMAL(38,6) partial sums per q_stats_moments' subform contract
    (events.value carries ≤6 decimals, so the decimal casts are exact
    and both engines build identical doubles — native stddev_samp
    would drift a ulp between Welford and naive summation). One
    map-side-combinable agg (5 rows) broadcast-joined back: two scans
    of events, no window, no sort."""
    ev = load_table(spark, sf, "events")
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(v).alias("sx"),
        dec(v * v).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    # n==1 / zero-variance groups: z undefined -> NULL (never an
    # outlier); no-op wherever the group has spread
    var = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    z = F.when(var > 0, (v - sx / n) / F.sqrt(var))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.round(F.abs(z), 9) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 9).alias("z_r9"))
        .orderBy("event_id")
    )


Q_ZSCORE_OUTLIERS_SQL = """
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
)
SELECT event_id, event_type, value,
       ROUND((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1.0)), 9) AS z_r9
FROM events JOIN s USING (event_type)
WHERE ROUND(abs((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1.0))), 9) > 2.5
ORDER BY event_id
"""


# ----------------------------- bucketed co-located join (no shuffle)

_BUCKET_DB = "wh_buckets"
_BUCKET_DIRS: dict[str, tuple[str, str]] = {}


@query
def q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located join via BUCKETED tables — the layout lever for the
    repeated 100-TB fact⋈dim join: both sides are written once with
    ``bucketBy(8, custkey).sortBy(custkey)`` into a catalog database
    (tempdir-backed), and the join then plans a SortMergeJoin with NO
    Exchange on either side (tests/test_wave9.py asserts no
    ``Exchange hashpartitioning(custkey)`` and ``SelectedBucketsCount``
    in both scans) — the shuffle is paid once at write time and
    amortized over every subsequent join. The ``merge`` hint pins SMJ
    so the plan proves bucketing rather than riding a broadcast."""
    import re

    key = f"{sf}"
    if key not in _BUCKET_DIRS:
        loc = scratch_dir("bucketed_wh_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {_BUCKET_DB} LOCATION '{loc}'")
        suffix = re.sub(r"\W", "_", key).strip("_")
        ob, cb = f"{_BUCKET_DB}.orders_b_{suffix}", f"{_BUCKET_DB}.cust_b_{suffix}"
        load_table(spark, sf, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").format("parquet").saveAsTable(ob)
        load_table(spark, sf, "customer").write.bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).mode("overwrite").format("parquet").saveAsTable(cb)
        _BUCKET_DIRS[key] = (ob, cb)
    ob, cb = _BUCKET_DIRS[key]
    orders, cust = spark.table(ob), spark.table(cb)
    return (
        orders.hint("merge")
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


Q_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ------------------------- dynamic partition pruning (runtime prune)


@query
def q_dpp_join(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the dt-partitioned staging table
    joins a dim whose filter (day-of-month ∈ {10,11,12}) only resolves
    to concrete partitions at RUNTIME — Catalyst broadcasts the dim,
    reuses the broadcast as a dynamicpruning subquery, and the fact
    scan reads 3 of 30 date directories without any static predicate
    (tests/test_wave9.py asserts ``dynamicpruningexpression`` in the
    scan's PartitionFilters). This is the mechanism that saves the
    100-TB scan when the date list comes from a dimension, not a
    literal."""
    from .queries_ext5 import read_partitioned_staging

    staged = read_partitioned_staging(spark, sf)
    ev = load_table(spark, sf, "events")
    # the dim's dt is DATE so the join lands on the RAW partition
    # column — casting the partition side would disable the pruning
    dim = (
        ev.select(F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("ddt"))
        .distinct()
        .where(F.dayofmonth("ddt").isin(10, 11, 12))
    )
    return (
        staged.join(F.broadcast(dim), staged["dt"] == dim["ddt"], "left_semi")
        .groupBy(staged["dt"].cast("string").alias("dt"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("dt", "event_type")
    )


Q_DPP_JOIN_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE EXTRACT(day FROM ts) IN (10, 11, 12)
GROUP BY 1, 2 ORDER BY 1, 2
"""
