"""Extended query registry — second coverage wave over SURVEY.md §2.

Same determinism contract as queries.py (decimal-cast sums, double
passthrough, unique-key tiebreaks). Each query registers with
``@query`` (registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalars import _dec, dsum
from .io.sources import load_table, register_views
from .registry import query


@query(oracle=lambda: Q04_SQL)
def q04_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (left-semi) + count per priority."""
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(oracle=lambda: Q07_SQL)
def q07_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: customer-nation × supplier-nation trade volume
    per year (two broadcast dim joins + year extraction)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == n1["c_nk"])
        .join(F.broadcast(n2), supp["s_nationkey"] == n2["s_nk"])
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(revenue).alias("volume"))
    )


Q07_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS volume
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
"""


@query
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS via the SQL API (same Catalyst plan as DataFrame)."""
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


Q_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@query
def q_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar string surface (SURVEY §2.3 F1-F3 generalized): case
    transforms, substring, length, replace, concat."""
    cust = load_table(spark, sf, "customer").where(F.col("c_custkey") <= 1000)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.translate("c_name", "#", "-").alias("name_dashed"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
    )


Q_STRING_FUNCS_SQL = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_mktsegment) AS segment_lower,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       CAST(LENGTH(c_name) AS BIGINT) AS name_len,
       REPLACE(c_name, '#', '-') AS name_dashed,
       CONCAT(c_mktsegment, '|', c_name) AS seg_name
FROM customer WHERE c_custkey <= 1000
"""


@query
def q_case_null(spark: SparkSession, sf: str) -> DataFrame:
    """CASE/COALESCE/NULLIF null-handling surface."""
    orders = load_table(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.select(
            "o_orderkey",
            bucket.alias("price_bucket"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("settled")).alias(
                "status_norm"
            ),
        )
        .groupBy("price_bucket", "status_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("price_bucket", "status_norm")
    )


Q_CASE_NULL_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'settled') AS status_norm,
       COUNT(*) AS n
FROM orders
GROUP BY 1, 2
ORDER BY price_bucket, status_norm
"""


@query
def q_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName across differently-ordered projections (the `data` ∪
    `data_batched` view union of SURVEY §2.8), then per-user totals."""
    ev = load_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "value")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("value").alias("value"), F.col("user_id").alias("user_id")
    ).select("value", "user_id")  # reversed column order on purpose
    return (
        purchases.unionByName(views)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .orderBy("user_id")
    )


Q_UNION_BY_NAME_SQL = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM (
  SELECT user_id, value FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, value FROM events WHERE event_type = 'view'
)
GROUP BY user_id ORDER BY user_id
"""


@query
def q_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame: trailing 1-hour sum per user over event time
    (ordered by epoch micros so the range bound is numeric)."""
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec(F.col("value"))).over(w).cast("double").alias("sum_1h"),
        F.count("value").over(w).alias("n_1h"),
    )


Q_RANGE_FRAME_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_1h,
       COUNT(value) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@query
def q_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """first_value/last_value/nth_value analytic functions."""
    orders = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


Q_FIRST_LAST_SQL = """
SELECT o_orderkey, o_orderpriority,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice) OVER w AS last_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query
def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (≥ 0.35 — calibrated to the synthetic corpus so the check is non-vacuous), blocked on the
    label column so the pair space is |label-group|², not n² — the
    blocking pattern that keeps this tractable at scale (swap label
    for an LSH bucket on unlabeled corpora).

    Plan shape (same lesson as ngram_jaccard_pairs): id-only pairs in
    the low-cardinality block join, repartition to full parallelism,
    THEN join the vectors in by id — and each vector's norm is
    precomputed once per vector, not re-derived per pair (turns 3 dot
    products per pair into 1)."""
    return embedding_neardup_pairs(spark, sf, threshold=0.35)


def embedding_neardup_pairs(
    spark: SparkSession, sf: str, threshold: float, max_vectors: int | None = 1_000_000
) -> DataFrame:
    """Blocked cosine pairs (id_a, id_b, cosine_sim_r9 ≥ threshold) —
    shared by the near-dup query and the clustering query. See
    q_embedding_neardup for the plan-shape rationale.

    GATED like ngram_jaccard_pairs: quadratic within a label block, so
    it refuses corpora above ``max_vectors`` — bucket by an LSH key
    (operators.similarity.hyperplane_lsh_buckets) and pair within
    buckets instead at that scale, or pass ``max_vectors=None``."""
    from .operators.dedup import _gate_corpus_size
    from .operators.similarity import _dot

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("_e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("_norm"),
    )
    _gate_corpus_size(
        emb, max_vectors, "embedding_neardup_pairs", "LSH-bucketed pairing"
    )
    ids = emb.select(F.col("vec_id").alias("_id"), "label")
    pairs = (
        ids.select(F.col("_id").alias("id_a"), "label")
        .join(ids.select(F.col("_id").alias("id_b"), "label"), "label")
        .where(F.col("id_a") < F.col("id_b"))
        .repartition(spark.sparkContext.defaultParallelism, "id_a")
        .select("id_a", "id_b")
    )
    sim = _dot(F.col("_e_a"), F.col("_e_b")) / (F.col("_n_a") * F.col("_n_b"))
    return (
        pairs.join(
            emb.select(F.col("vec_id").alias("id_a"), F.col("_e").alias("_e_a"), F.col("_norm").alias("_n_a")),
            "id_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("id_b"), F.col("_e").alias("_e_b"), F.col("_norm").alias("_n_b")),
            "id_b",
        )
        .select("id_a", "id_b", F.round(sim, 9).alias("cosine_sim_r9"))
        .where(F.col("cosine_sim_r9") >= threshold)
    )


Q_EMBEDDING_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9)
         AS cosine_sim_r9
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9) >= 0.35
"""


@query(oracle=lambda: Q_ALNUM_TOKEN_SQL)
def q_alnum_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token stats under the alphanumeric (BPE-pre-tokenizer-style)
    splitter: total vs distinct token counts per doc."""
    from .operators.dedup import tokens_col

    docs = load_table(spark, sf, "documents")
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_words"),
    )


Q_ALNUM_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_words
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents)
"""
