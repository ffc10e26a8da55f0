"""Fifth coverage wave: training-data-pipeline operations over the
documents corpus — PII scrubbing, deterministic stratified sampling,
length-distribution profiling, and TF-IDF term ranking.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py. The PII query PLANTS deterministic PII into
the (synthetic, PII-free) corpus on both engines so the oracle
actually exercises the scrub patterns rather than passing on identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query


# ----------------------------------------------------------- PII scrub


@query
def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy pass for pre-training corpora: plant a deterministic
    email / IPv4 / phone per doc, then scrub with the engine-portable
    regex chain (`operators.text.pii_scrub`). The oracle runs the same
    plant + scrub in DuckDB (RE2) — bit-exact equality proves the
    patterns behave identically across regex engines, which is the
    portability property a multi-engine lakehouse needs."""
    from .operators.text import pii_scrub

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +14155550199 ok"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id", pii_scrub("text").alias("text_clean")
    ).orderBy("doc_id")


Q_PII_SCRUB_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 call +14155550199 ok',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\+\d{7,15}', '<PHONE>', 'g') AS text_clean
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------- stratified hash sampling


@query
def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: the same md5-prefix rule
    applied within every language stratum keeps ~25% of each language
    regardless of stratum skew — the reproducible way to carve
    experiment subsets per domain/language at 100 TB (`df.sampleBy`
    uses engine-local RNG and can never be reproduced elsewhere).
    Returns the per-stratum sample sizes plus the sampled doc rows'
    checksum so the oracle pins membership, not just counts."""
    docs = load_table(spark, sf, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sample = docs.where(bucket.isin("0", "1", "2", "3"))
    return (
        sample.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sampled"),
        )
        .orderBy("lang")
    )


Q_STRATIFIED_SAMPLE_SQL = """
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------- length distribution


@query
def q_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus length profile: width-100-char buckets per language —
    the standard pre-filter diagnostic before length cutoffs. Pure
    map-side bucketing + one hash aggregate."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(
            "lang", (F.col("n_chars") / F.lit(100)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "bucket")
    )


Q_LENGTH_HISTOGRAM_SQL = """
SELECT lang, CAST(n_chars // 100 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, n_chars // 100
ORDER BY lang, bucket
"""


# --------------------------------------------------- TF-IDF term ranking


@query
def q_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 characteristic terms per language by a rational TF-IDF
    (tf · n_docs/df — the log-free form keeps the score exact-rational
    so it hash-matches across engines; ln is excluded from oracles by
    the determinism contract). Two hash aggregates + a broadcast-sized
    doc-frequency join + per-lang top-k window."""
    docs = load_table(spark, sf, "documents")
    from .operators.text import tokenize

    words = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("term")
    )
    tf = words.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df_), "term").select(
        "lang",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "term", "tf", "df", "score", "rnk")
        .orderBy("lang", "rnk")
    )


Q_TFIDF_TERMS_SQL = """
WITH words AS (
  SELECT doc_id, lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM words GROUP BY lang, term),
df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT lang, tf.term AS term, tf, df,
         tf * CAST((SELECT n_docs FROM n) AS DOUBLE) / df AS score
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT lang, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT lang, term, tf, df, score, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
"""


# ------------------------------------------------------ salted skew join


@query
def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated fact join: lineitem (skewed side, salted over 8
    deterministic buckets) ⨝ orders (replicated ×8), then priority
    revenue rollup. Salting is semantics-preserving, so the oracle is
    the PLAIN join — equality proves the rewrite changes the physical
    distribution only. This is the portable fallback for hot keys AQE
    can't split (skewed broadcast or aggregation keys)."""
    from .operators.skew import salted_join

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    # join keys differ by name: align first (salted_join needs equal names)
    li2 = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    joined = salted_join(li2, orders, on=["o_orderkey"], how="inner", salt_buckets=8)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(revenue.cast("decimal(38,6)")).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q_SALTED_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------- crypto price indicators


@query
def q_crypto_indicators(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA / MACD price indicators — the reference's domain (crypto
    price series) computed with the BOUNDED-memory chunked fold
    (operators.series.emas_by_key_chunked): one sort shuffle numbers
    each key's series, per-(key, chunk) arrays are capped at chunk_size
    rows, and the EMA recurrences compose as affine maps across chunks
    — so a hot key of any length never materializes a full-series row.
    All three alphas (EWMA α=.5, EMA12, EMA26) share the single shuffle;
    MACD = EMA(α=2/13) − EMA(α=2/27) over the per-user event series.

    Numerics: a key whose series fits one chunk (every key at oracle
    scales; chunk_size = 2¹⁶) takes the seeded serial-fold branch, so
    results are BIT-exact vs. the serial left-fold oracle; keys longer
    than chunk_size compose affine summaries and agree to ~1e-12
    relative (fp reassociation — see operators/series.py)."""
    from .operators.series import emas_by_key_chunked

    ev = load_table(spark, sf, "events")
    out = emas_by_key_chunked(
        ev,
        "user_id",
        ["ts", "event_id"],
        "value",
        {"ewma_fast": 0.5, "ema12": 2.0 / 13.0, "ema26": 2.0 / 27.0},
    )
    return out.select(
        "user_id",
        F.col("n_ticks").cast("int").alias("n_ticks"),
        F.round("ewma_fast", 6).alias("ewma_fast"),
        F.round("ema12", 6).alias("ema12"),
        F.round("ema26", 6).alias("ema26"),
        F.round(F.col("ema12") - F.col("ema26"), 6).alias("macd"),
    ).orderBy("user_id")


Q_CRYPTO_INDICATORS_SQL = """
WITH ordered AS (
  SELECT user_id, ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INTEGER) AS n_ticks,
       ROUND(list_reduce(vals, (acc, x) -> x * 0.5 + acc * 0.5), 6) AS ewma_fast,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/13.0) + acc * (1 - 2.0/13.0)), 6) AS ema12,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/27.0) + acc * (1 - 2.0/27.0)), 6) AS ema26,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/13.0) + acc * (1 - 2.0/13.0))
             - list_reduce(vals, (acc, x) -> x * (2.0/27.0) + acc * (1 - 2.0/27.0)), 6) AS macd
FROM ordered ORDER BY user_id
"""


@query
def q_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Max drawdown per user: running peak via an expanding window max,
    drawdown = value − peak, aggregate min. One (key, time) sort
    shuffle; subtraction-only arithmetic keeps the oracle bit-exact."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = ev.select(
        "user_id", (F.col("value") - F.max("value").over(w)).alias("drawdown")
    )
    return (
        dd.groupBy("user_id")
        .agg(F.min("drawdown").alias("max_drawdown"))
        .orderBy("user_id")
    )


Q_DRAWDOWN_SQL = """
SELECT user_id, MIN(drawdown) AS max_drawdown
FROM (
  SELECT user_id,
         value - MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drawdown
  FROM events
)
GROUP BY user_id ORDER BY user_id
"""


# ------------------------------------------------- chunk-level dedup


@query
def q_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-granularity dedup statistics: every doc splits into
    fixed 32-token chunks (the unit LLM pipelines dedup at when
    whole-doc dedup is too coarse), chunks hash portably (md5 over the
    joined tokens), and per-language stats report how much of the
    corpus is chunk-duplicated. One explode + two hash aggregates."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    k = 32
    # drop zero-token docs BEFORE chunk indexing: Spark's sequence(0,-1)
    # yields a DESCENDING [0,-1] rather than an empty array
    toked = docs.select("doc_id", "lang", tokenize("text").alias("_t")).where(
        F.size("_t") > 0
    )
    chunks = toked.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("_t") / k).cast("int") - 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice("_t", i * k + 1, k))),
            )
        ).alias("chunk_hash"),
    )
    per_chunk = chunks.groupBy("lang", "chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    return (
        per_chunk.groupBy("lang")
        .agg(
            F.sum("n_occ").alias("total_chunks"),
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("n_occ") - 1).otherwise(0)).alias(
                "redundant_chunks"
            ),
        )
        .orderBy("lang")
    )


Q_CHUNK_DEDUP_SQL = """
WITH toked AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, lang,
         md5(array_to_string(t[i*32+1 : i*32+32], ' ')) AS chunk_hash
  FROM toked, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
  ) ix
  WHERE len(t) > 0  -- mirrors the Spark side's zero-token guard
),
per_chunk AS (
  SELECT lang, chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY lang, chunk_hash
)
SELECT lang, CAST(SUM(n_occ) AS BIGINT) AS total_chunks,
       COUNT(*) AS distinct_chunks,
       CAST(SUM(CASE WHEN n_occ > 1 THEN n_occ - 1 ELSE 0 END) AS BIGINT) AS redundant_chunks
FROM per_chunk GROUP BY lang ORDER BY lang
"""


# -------------------------------------- chained stateful stream funnel


@query
def q_stream_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Chained stateful streaming (stream-stream join → tumbling daily
    agg in one append-mode query). Emitted = windows closed by the
    final watermark (max event ts − 2h) — the oracle applies the same
    closure rule to the batch interval join."""
    from .streaming.windows import stream_funnel_daily

    return stream_funnel_daily(spark, sf)


Q_STREAM_FUNNEL_SQL = """
WITH pairs AS (
  SELECT p.ts AS purchase_ts
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT strftime(date_trunc('day', purchase_ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_pairs
FROM pairs
WHERE date_trunc('day', purchase_ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
GROUP BY date_trunc('day', purchase_ts)
ORDER BY day
"""


# ------------------------------------------------- snapshot diff (CDF)


@query
def q_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed between two synthetic snapshots of orders
    (`operators.scd.table_diff`): the "old" snapshot drops a key range
    (→ inserts) and the "new" one perturbs totals for another range
    (→ updates) and drops a third (→ deletes). One full-outer join,
    presence decided by side markers so NULL attributes can't
    misclassify."""
    from .operators.scd import table_diff

    orders = load_table(spark, sf, "orders")
    old = orders.where(F.col("o_orderkey") % 10 != 0)  # new inserts: %10==0
    new = orders.where(F.col("o_orderkey") % 7 != 0).withColumn(  # deletes: %7==0
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return (
        table_diff(old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
        .orderBy("o_orderkey")
    )


Q_TABLE_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'insert'
            WHEN new.o_orderkey IS NULL THEN 'delete'
            WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
              OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'update'
       END AS change_type
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE CASE WHEN old.o_orderkey IS NULL THEN 'insert'
           WHEN new.o_orderkey IS NULL THEN 'delete'
           WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
             OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'update'
      END IS NOT NULL
ORDER BY o_orderkey
"""


# ---------------------------------------------------- fuzzy matching


@query
def q_fuzzy_match(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance entity resolution: match misspelled country names
    against the nation dimension with levenshtein ≤ 2 (classic DP
    metric, identical in both engines). The dirty side is tiny →
    broadcast nested-loop is the right plan; at scale pre-block on
    (first char, length band) to keep candidates linear."""
    nation = load_table(spark, sf, "nation")
    dirty = spark.createDataFrame(
        [("NATION_1",), ("NATON_3",), ("NATION_22X",), ("XATION_7",), ("NOSUCHLAND",)],
        "dirty_name string",
    )
    return (
        dirty.crossJoin(F.broadcast(nation.select("n_nationkey", "n_name")))
        .withColumn("dist", F.levenshtein("dirty_name", "n_name"))
        .where(F.col("dist") <= 2)
        .select("dirty_name", "n_name", "dist")
        .orderBy("dirty_name", "n_name")
    )


Q_FUZZY_MATCH_SQL = """
SELECT dirty_name, n_name, CAST(levenshtein(dirty_name, n_name) AS INTEGER) AS dist
FROM (VALUES ('NATION_1'), ('NATON_3'), ('NATION_22X'), ('XATION_7'), ('NOSUCHLAND')) d(dirty_name)
CROSS JOIN nation
WHERE levenshtein(dirty_name, n_name) <= 2
ORDER BY dirty_name, n_name
"""


# ------------------------------------------------- int8 quantization


@query
def q_quantize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization
    (`operators.similarity.quantize_int8`) summarized per vector
    (scale + code checksum/extrema, so the oracle compares scalars
    instead of cross-engine array dtypes). Truncation toward zero is
    explicit on both engines (Spark int cast ≡ DuckDB trunc)."""
    from .operators.similarity import quantize_int8

    emb = load_table(spark, sf, "embeddings")
    q = emb.select("vec_id", *quantize_int8("embedding"))
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")).alias("code_sum"),
        F.array_min("codes").cast("int").alias("code_min"),
        F.array_max("codes").cast("int").alias("code_max"),
    ).orderBy("vec_id")


Q_QUANTIZE_EMBEDDINGS_SQL = """
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale,
         list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(trunc(x * 127.0 /
                  list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))) AS INTEGER)) AS codes
  FROM embeddings
)
SELECT vec_id, ROUND(scale, 9) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       list_min(codes) AS code_min, list_max(codes) AS code_max
FROM q ORDER BY vec_id
"""


# ------------------------------------------------ map higher-order fns


@query
def q_map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Map-typed higher-order functions: per-user event-type counts
    packed into a map (map_from_entries ∘ collect_list), doubled with
    transform_values, pruned with map_filter, exploded back to rows.
    The oracle computes the equivalent relational GROUP BY + HAVING —
    equality proves the map pipeline preserves multiset semantics
    (collect_list order never leaks: maps are unordered and the output
    re-sorts)."""
    ev = load_table(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    m2 = m.select(
        "user_id",
        F.map_filter(
            F.transform_values("m", lambda k, v: v * 2), lambda k, v: v >= 4
        ).alias("m"),
    )
    return (
        m2.select("user_id", F.explode("m").alias("event_type", "n2"))
        .orderBy("user_id", "event_type")
    )


Q_MAP_FUNCS_SQL = """
SELECT user_id, event_type, COUNT(*) * 2 AS n2
FROM events
GROUP BY user_id, event_type
HAVING COUNT(*) * 2 >= 4
ORDER BY user_id, event_type
"""


# ------------------------------------- cluster representative selection


@query
def q_cluster_representatives(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dup collapse, the full LLM-corpus pattern in one
    query: embedding near-dup pairs → connected components → join the
    documents table → keep ONE representative per cluster (longest
    text, min-id tiebreak). Exercises the iterative component operator,
    a cross-table id join, and deterministic per-group top-1 — oracle
    recomputes everything incl. the transitive closure recursively."""
    from .operators.components import connected_components
    from .queries_ext import embedding_neardup_pairs

    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    pairs = embedding_neardup_pairs(spark, sf, threshold=0.3).select("id_a", "id_b")
    comp = connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id", num_partitions=4
    ).withColumnRenamed("component", "cluster_id")
    joined = comp.join(docs, comp["vec_id"] == docs["doc_id"])
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


Q_CLUSTER_REPRESENTATIVES_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9) >= 0.3
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY n),
members AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN documents d ON d.doc_id = c.vec_id
)
SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM members WHERE rn = 1 ORDER BY cluster_id
"""


# --------------------------------------------- token-budget corpus mix


@query
def q_token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing selection: within each language take the
    longest-first documents until a 5,000-token budget fills — the
    greedy per-domain sampling step of training-corpus construction.
    One window pass: running token total per lang, keep rows whose
    PRIOR total is under budget (so the doc crossing the line is
    included — standard greedy fill)."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    with_tok = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_tokens").over(w)
    return (
        with_tok.withColumn("running_tokens", run.cast("long"))
        .where(F.col("running_tokens") - F.col("n_tokens") < 5000)
        .orderBy("lang", F.col("n_chars").desc(), "doc_id")
        .select("lang", "doc_id", "n_tokens", "running_tokens")
    )


Q_TOKEN_BUDGET_MIX_SQL = """
WITH with_tok AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_tokens
  FROM documents
),
run AS (
  SELECT lang, doc_id, n_chars, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_tokens
  FROM with_tok
)
SELECT lang, doc_id, n_tokens, running_tokens
FROM run WHERE running_tokens - n_tokens < 5000
ORDER BY lang, n_chars DESC, doc_id
"""


# --------------------------------------------------- column profiling


@query
def q_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Column-profiling pass (null counts + exact distinct cardinality
    per column) — the expectation-gate companion every ingest pipeline
    runs before publishing a table. One aggregate over one scan
    produces every column's stats; the long format comes from a
    zero-shuffle stack on the 1-row result."""
    orders = load_table(spark, sf, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
    agg = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"_d_{c}") for c in cols],
    )
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _d_{c}" for c in cols
    )
    return (
        agg.select(
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
            ),
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("col_name")
    )


Q_PROFILE_STATS_SQL = """
SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_nulls,
       COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority) FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice) FROM orders
ORDER BY col_name
"""


# ------------------------------------------------------- SCD2 history


def _scd2_partial(ev: DataFrame) -> DataFrame:
    """One snapshot per (user, ts): MIN of the value tier, so window
    order is total in both engines. MIN is associative — stored
    partials merge with the same MIN per (user, ts)."""
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    snaps = ev.select("user_id", "ts", tier.alias("tier"))
    return snaps.groupBy("user_id", "ts").agg(F.min("tier").alias("tier"))


def _scd2_finish(snaps: DataFrame) -> DataFrame:
    from .operators.scd import scd2_history

    hist = scd2_history(snaps, ["user_id"], "ts", ["tier"])
    return hist.select(
        "user_id",
        F.date_format("effective_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_from"),
        F.date_format("effective_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_to"),
        "tier",
        "is_current",
    ).orderBy("user_id", "effective_from")


@query
def q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension history from the event stream: per-user value
    tier, versioned with effective_from/effective_to/is_current and
    consecutive-duplicate suppression — one window shuffle, no
    self-join (`operators.scd.scd2_history`). Snapshots are first
    deduped to one per (user, ts) with MIN(tier) so window order is
    total in both engines."""
    return _scd2_finish(_scd2_partial(load_table(spark, sf, "events")))


Q_SCD2_SQL = """
WITH snaps AS (
  SELECT user_id, ts,
         MIN(CASE WHEN value < 50 THEN 'low'
                  WHEN value < 150 THEN 'mid' ELSE 'high' END) AS tier
  FROM events GROUP BY user_id, ts
),
marked AS (
  SELECT user_id, ts, tier,
         CASE WHEN LAG(tier) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS newv
  FROM snaps
),
vers AS (SELECT user_id, ts, tier FROM marked WHERE newv = 1)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                '%Y-%m-%d %H:%M:%S.%f') AS effective_to,
       tier,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM vers ORDER BY user_id, effective_from
"""


# ------------------------------------------------ stream-stream join


@query
def q_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join (purchase ↔ same-user clicks in the
    prior hour) executed through real Structured Streaming machinery
    (watermarked both sides, availableNow replay), rolled up per user.
    Oracle: the equivalent batch interval join — full-replay streaming
    ≡ batch is the correctness invariant."""
    from .streaming.windows import stream_click_attribution

    return stream_click_attribution(spark, sf, gap="1 hour")


Q_STREAM_JOIN_SQL = """
SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_purchases,
       CAST(SUM(CAST(c.value AS DECIMAL(38,6))) AS DOUBLE) AS click_value_sum
FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY p.user_id ORDER BY user_id
"""
