"""Third coverage wave: more TPC-H query shapes + math scalar surface.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import _dec, dsum
from .io.sources import load_table
from .registry import query


@query(oracle=lambda: Q10_SQL)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query(oracle=lambda: Q12_SQL)
def q12_priority_by_status(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (urgent vs other order
    counts) per line status."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query(oracle=lambda: Q14_SQL)
def q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio (promo share).

    Ratio of two exact decimal sums converted to double — deterministic
    in both engines."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            (F.lit(100.0) * F.sum(_dec(promo)).cast("double")
             / F.sum(_dec(revenue)).cast("double")).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


@query(oracle=lambda: Q18_SQL)
def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum, re-joined to the
    order/customer detail."""
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


@query(oracle=lambda: Q19_SQL)
def q19_multi_predicate(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicates (brand ×
    size × quantity bands) — exercises OR-predicate pushdown/folding."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .where(cond)
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 40)
"""


@query(oracle=lambda: Q_MATH_SQL)
def q_math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Math scalar surface: abs/floor/ceil/round/sqrt/mod — the
    IEEE-deterministic subset (exp/ln differ in final ulp across libm
    implementations and are deliberately excluded from oracles)."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.round("l_extendedprice", 1).alias("price_round1"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
    )


Q_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS abs_disc_delta,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       ROUND(l_extendedprice, 1) AS price_round1,
       SQRT(l_quantity) AS qty_sqrt,
       l_orderkey % 7 AS key_mod7
FROM lineitem WHERE l_orderkey <= 2000
"""


@query
def q_date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Datetime scalar surface (SURVEY §2.3 F4-F7 generalized):
    truncation, extraction, arithmetic, formatting."""
    orders = load_table(spark, sf, "orders").where(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "order_month"
        ),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month_num"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("int")
        .alias("days_to_1998"),
    )


Q_DATE_FUNCS_SQL = """
SELECT o_orderkey,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS order_month,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month_num,
       CAST(day(o_orderdate) AS INT) AS order_day,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
       date_add(CAST(o_orderdate AS DATE), 30) AS due_date,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_1998
FROM orders WHERE o_orderkey <= 2000
"""


@query
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON decode over the events.props column (SURVEY §2.3 F10):
    path extraction + typed cast + aggregation."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q_JSON_EXTRACT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


@query
def q_embedding_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup clustering: connected components over the embedding
    near-dup pair graph (iterative hash-min label propagation). The
    oracle recomputes the transitive closure with a recursive CTE —
    an exact check of an iterative distributed algorithm."""
    from .operators.components import connected_components
    from .queries_ext import embedding_neardup_pairs

    emb = load_table(spark, sf, "embeddings")
    pairs = embedding_neardup_pairs(spark, sf, threshold=0.3).select("id_a", "id_b")
    nodes = emb.select(F.col("vec_id"))
    # partitions sized to the (small) embedding graph — see the
    # operator docstring for the rounds × partitions fixed-cost math
    return connected_components(nodes, pairs, id_col="vec_id", num_partitions=4).withColumnRenamed(
        "component", "cluster_id"
    )


Q_EMBEDDING_CLUSTERS_SQL = """
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
)
SELECT n AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY n
"""


@query
def q_approx_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based aggregates (HLL distinct, approximate quantiles) —
    the constant-memory statistics used at 100 TB where exact
    distinct/median would shuffle the world. Sketch values are
    engine-specific, so the row reports the EXACT statistics (which the
    oracle reproduces bit-for-bit) plus in-plan error-bound assertions
    for each sketch against its exact twin: HLL within 10% relative
    (default rsd 0.05; measured 2.4-2.7% across sf), approx quantiles
    within 1% (measured ≤0.1%). The oracle emits literal TRUE, so a
    sketch drifting past its bound fails the correctness row — the
    q_lsh_topk recall-gating pattern applied to sketches."""
    li = load_table(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey").alias("_hll"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_ap50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.95).alias("_ap95"),
    )
    rel = lambda a, b: F.abs(a - b) / F.abs(b)  # noqa: E731
    return agg.select(
        "l_returnflag",
        "n_parts",
        "p50",
        "p95",
        (rel(F.col("_hll"), F.col("n_parts")) <= 0.10).alias("hll_ok"),
        (rel(F.col("_ap50"), F.col("p50")) <= 0.01).alias("q50_ok"),
        (rel(F.col("_ap95"), F.col("p95")) <= 0.01).alias("q95_ok"),
    ).orderBy("l_returnflag")


Q_APPROX_STATS_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS q95_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
