"""Fourth coverage wave: the remaining TPC-H query shapes, adapted to
the testdata schema (no partsupp table — cost/availability terms use
p_retailprice or lineitem aggregates instead; the plan SHAPES — correlated
scalar subqueries, decorrelated min-subquery joins, outer-join count
distributions, exists/not-exists — are what is exercised).

Each query registers with ``@query`` (registry.py). Same determinism contract
as queries.py (decimal(38,6) sums cast back to double, unique-key
tiebreaks on every top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import _dec, dsum, davg
from .io.sources import load_table
from .registry import query
from .session import scratch_dir


# --------------------------------------------------------------- Q2 shape


@query(oracle=lambda: Q02_MIN_COST_SQL)
def q02_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery, decorrelated into an
    aggregate + equi-join (exactly what Catalyst does to the SQL form).

    For each LARGE-type part, the supplier(s) that shipped it at the
    lowest extended price. The per-part min is a broadcast-able agg;
    the probe join is partition-local after AQE.
    """
    part = load_table(spark, sf, "part").where(F.col("p_type") == "LARGE")
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    offers = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                li["l_partkey"] == part["p_partkey"])
        .select("p_partkey", "p_brand", "p_size", "l_suppkey", "l_extendedprice")
    )
    min_price = offers.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        offers.join(
            F.broadcast(min_price),
            (offers["p_partkey"] == min_price["mp_partkey"])
            & (offers["l_extendedprice"] == min_price["min_price"]),
        )
        .join(F.broadcast(supp), offers["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            "p_partkey", "p_brand", "p_size", "s_name", "n_name",
            F.col("l_extendedprice").alias("best_price"),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


Q02_MIN_COST_SQL = """
SELECT p_partkey, p_brand, p_size, s_name, n_name, l_extendedprice AS best_price
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'LARGE'
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
ORDER BY p_partkey, s_name
LIMIT 100
"""


# --------------------------------------------------------------- Q8 shape


@query(oracle=lambda: Q08_SQL)
def q08_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: market share of NATION_1 suppliers within AMERICA
    customers' orders, per year. Conditional ratio of two decimal sums;
    all dims broadcast, single shuffle at the year agg."""
    region = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    cnation = load_table(spark, sf, "nation")
    snation = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")

    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", revenue).otherwise(F.lit(0.0))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cnation), cust["c_nationkey"] == cnation["n_nationkey"])
        .join(F.broadcast(region), cnation["n_regionkey"] == region["r_regionkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(snation), supp["s_nationkey"] == F.col("sn_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(_dec(target)).cast("double")
             / F.sum(_dec(revenue)).cast("double")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q08_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_1'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY EXTRACT(year FROM o_orderdate)
ORDER BY o_year
"""


# --------------------------------------------------------------- Q9 shape


@query(oracle=lambda: Q09_SQL)
def q09_nation_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year. The classic
    uses ps_supplycost (no partsupp table here) — p_retailprice stands in
    as the unit cost, preserving the multi-join + derived-expression +
    two-level groupBy plan shape."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%e%"))
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    orders = load_table(spark, sf, "orders")

    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q09_SQL = """
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1 AS DECIMAL(38,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%e%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
ORDER BY nation, o_year DESC
"""


# -------------------------------------------------------------- Q11 shape


@query(oracle=lambda: Q11_SQL)
def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery over the whole
    table (group value > fraction of global total). Shipped value per
    part vs 0.1% of total shipped value. The global total is a 1-row
    broadcast cross join — no second scan of the grouped data."""
    li = load_table(spark, sf, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(dsum(value).alias("part_value"))
    total = li.agg((dsum(value) * F.lit(0.0007)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) * 0.0007
  FROM lineitem
)
ORDER BY part_value DESC, l_partkey
"""


# -------------------------------------------------------------- Q13 shape


@query(oracle=lambda: Q13_SQL)
def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — orders
    per customer, then customers per order-count (zero-order customers
    included via the outer join)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -------------------------------------------------------------- Q15 shape


@query(oracle=lambda: Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + join against its own MAX (scalar
    subquery). Revenue per supplier in 1997H1; keep supplier(s) at the
    max. The decimal-sum contract makes the double equality exact on
    both engines."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    supp = load_table(spark, sf, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# -------------------------------------------------------------- Q16 shape


@query(oracle=lambda: Q16_SQL)
def q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (anti join) + COUNT(DISTINCT)
    per attribute group. Distinct suppliers per (p_brand, p_size) for
    non-PROMO parts, excluding suppliers whose name ends in '7'."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_type") != "PROMO")
    excluded = load_table(spark, sf, "supplier").where(
        F.col("s_name").like("%7")
    ).select(F.col("s_suppkey").alias("x_suppkey"))
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(excluded), li["l_suppkey"] == F.col("x_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(50)
    )


Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
LIMIT 50
"""


# -------------------------------------------------------------- Q17 shape


@query(oracle=lambda: Q17_SQL)
def q17_small_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery, decorrelated into a
    per-part aggregate + broadcast join. Revenue from lineitems below
    30% of their part's average quantity."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1")
    part_avg = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (davg(F.col("l_quantity")) * F.lit(0.3)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(part_avg), li["l_partkey"] == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l2.l_quantity) * 0.3
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


# -------------------------------------------------------------- Q20 shape


@query(oracle=lambda: Q20_SQL)
def q20_part_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers that shipped
    more than 60 units of any part whose name contains '3', joined to
    their nation. Inner agg → threshold filter → LEFT SEMI probe."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%o%"))
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 100.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%o%'
  GROUP BY l_suppkey, l_partkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 100.0
)
ORDER BY s_name
"""


# -------------------------------------------------------------- Q21 shape


@query(oracle=lambda: Q21_SQL)
def q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS / NOT EXISTS over sibling rows of the
    same order. No receipt/commit dates in this schema, so the 'late'
    predicate becomes l_returnflag = 'R': suppliers with a returned
    line in a multi-supplier order where NO other supplier of that
    order had a return.

    Formulated as a two-level aggregate: per (order, supplier) first
    (map-side combinable, no COUNT DISTINCT expand), then per order.
    The per-supplier aggregate subplan appears on both sides of the
    final join, and its shuffle is identical — AQE's ReusedExchange
    materializes it once.
    """
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").where(F.col("o_orderstatus") == "F")

    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_ret")
    )
    order_stats = (
        per_supp.groupBy(F.col("l_orderkey").alias("os_orderkey"))
        .agg(
            F.count("*").alias("n_supps"),
            F.sum("has_ret").alias("n_ret_supps"),
        )
        .where((F.col("n_supps") > 1) & (F.col("n_ret_supps") == 1))
    )
    returned = per_supp.where(F.col("has_ret") == 1).select("l_orderkey", "l_suppkey")
    return (
        returned.join(orders, returned["l_orderkey"] == orders["o_orderkey"], "left_semi")
        .join(order_stats, returned["l_orderkey"] == F.col("os_orderkey"))
        .join(F.broadcast(supp), returned["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem
  WHERE l_returnflag = 'R'
) l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# -------------------------------------------------------------- Q22 shape


@query(oracle=lambda: Q22_SQL)
def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery + anti join. Customers with
    above-average account balance and no RECENT orders (every customer
    has some order in this dataset; the 1999+ window keeps the anti
    join selective at every sf), counted per nation."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    nation = load_table(spark, sf, "nation")

    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c2.c_acctbal)
    FROM customer c2 WHERE c2.c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
"""


# ------------------------------------------- time-series subsequence search


_TS_PATTERN = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0]  # a spike


@query(oracle=lambda: _ts_sql())
def q_ts_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """UCR-style subsequence similarity search: the 10 length-8 windows
    of the per-type event series whose z-normalized shape is closest to
    a spike pattern. Windows via collect_list rows-frames (one pass, no
    self-join); every float op is an identically-ordered sequential
    fold on both engines, so distances are bit-exact."""
    from .operators.ts_search import subsequence_search

    events = load_table(spark, sf, "events")
    return subsequence_search(events, _TS_PATTERN, k=10)


def _ts_sql() -> str:
    from .operators.ts_search import znorm

    q = znorm(_TS_PATTERN)
    qlist = "[" + ", ".join(repr(v) for v in q) + "]"
    return f"""
WITH win AS (
  SELECT event_id, event_type,
         list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS w
  FROM events
),
fw AS (SELECT * FROM win WHERE len(w) = 8),
m1 AS (
  SELECT event_id, event_type, w,
         list_reduce(list_prepend(0.0, w), (a, x) -> a + x) / 8 AS mu
  FROM fw
),
m2 AS (
  SELECT event_id, event_type, w, mu,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(w, x -> (x - mu) * (x - mu))), (a, x) -> a + x) / 8) AS sd
  FROM m1
),
m3 AS (
  SELECT event_id, event_type,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(range(1, 9),
                  i -> ((w[i] - mu) / sd - ({qlist})[i]) * ((w[i] - mu) / sd - ({qlist})[i]))),
              (a, x) -> a + x)) AS dist
  FROM m2 WHERE sd > 0
)
SELECT event_id, event_type, dist FROM m3 ORDER BY dist, event_id LIMIT 10
"""


# ------------------------------------------------------ count-min sketch


@query
def q_cms_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequency estimates for every event type: build
    the (4 × 1024) sketch over the events stream, then point-query each
    distinct key. The DuckDB oracle rebuilds the identical sketch from
    the same md5-derived hashes — estimates (including any collision
    overcounts) match exactly, which verifies the sketch construction
    itself, not just the happy case."""
    from .operators.sketch import cms_build, cms_estimate

    events = load_table(spark, sf, "events")
    sketch = cms_build(events, "event_type")
    keys = events.select("event_type").distinct()
    return (
        cms_estimate(sketch, keys, "event_type")
        .orderBy("event_type")
    )


Q_CMS_COUNTS_SQL = """
WITH counts AS (
  SELECT CAST(event_type AS VARCHAR) AS v, COUNT(*) AS c FROM events GROUP BY 1
),
fanned AS (
  SELECT v, c, d,
         list_reduce(
           list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5('s' || CAST(d AS VARCHAR) || v), i, 1)) - 1 AS BIGINT)),
           (acc, dig) -> acc * 16 + dig
         ) % 1024 AS bucket
  FROM counts, (SELECT unnest(range(0, 4)) AS d)
),
sketch AS (
  SELECT d, bucket, CAST(SUM(c) AS BIGINT) AS cnt FROM fanned GROUP BY d, bucket
)
SELECT f.v AS event_type, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS estimate
FROM fanned f LEFT JOIN sketch s ON f.d = s.d AND f.bucket = s.bucket
GROUP BY f.v
ORDER BY event_type
"""


# ------------------------------------------------- continuous aggregate


@query
def q_continuous_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-rollup (continuous aggregate) end-to-end: maintain an
    hourly rollup of the events stream via checkpointed foreachBatch
    merge, then serve it through the settled-history ∪ fresh-tail
    reader. The oracle is the plain GROUP BY — the pattern's invariant
    is that incremental maintenance + tail union ≡ one-shot
    aggregation."""
    from .streaming.continuous_agg import read_with_tail, start_continuous_rollup

    events = load_table(spark, sf, "events")
    # the rollup dir must outlive this call (the result is lazy — no
    # driver-side collect); removed at interpreter exit like the other
    # streaming wrapper sinks
    work = scratch_dir("contagg_")
    raw_dir = f"{work}/raw"
    events.write.parquet(raw_dir)
    schema = spark.read.parquet(raw_dir).schema
    q = start_continuous_rollup(
        spark, raw_dir, f"{work}/rollup", f"{work}/ckpt", schema
    )
    q.awaitTermination()
    return read_with_tail(spark, f"{work}/rollup", events).select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "sum_value",
        "min_value",
        "max_value",
    )


Q_CONTINUOUS_AGG_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ---------------------------------------------------- portable fingerprint


@query
def q_fingerprint_md5(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-engine-verifiable document fingerprints: chained md5 fold
    over the token stream (the portable twin of the xxhash64 rolling
    fingerprint, which is Spark-only and hence rows-only checked).
    Order-sensitive: token permutations change the fingerprint."""
    from .operators.text import fingerprint_md5

    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp")).orderBy("doc_id")


Q_FINGERPRINT_MD5_SQL = r"""
SELECT doc_id,
       list_reduce(
         list_prepend('fp0', list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')),
         (acc, x) -> md5(acc || x)
       ) AS fp
FROM documents
ORDER BY doc_id
"""


# ------------------------------------------------- full quality features


@query
def q_quality_full(spark: SparkSession, sf: str) -> DataFrame:
    """The complete Gopher/C4-style quality feature set from the actual
    ``quality_scores`` operator (q_quality_scores re-derives only the
    repetition slice): token counts, mean word length, punctuation
    density, stopword fraction, repetition ratio, and the composite
    0..1 gate score. All ratios are int/int doubles — bit-exact."""
    from .operators.text import quality_scores

    docs = load_table(spark, sf, "documents")
    return quality_scores(docs).select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "punct_ratio",
        "stopword_frac",
        "repetition_ratio",
        "quality_score",
    ).orderBy("doc_id")


Q_QUALITY_FULL_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_char
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         (n_char - len(toks) + 1) / GREATEST(len(toks), 1) AS mean_word_len,
         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS BIGINT)
           / GREATEST(n_char, 1) AS punct_ratio,
         CAST(len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','a','in','is','that','it','for'], x))) AS BIGINT)
           / GREATEST(len(toks), 1) AS stopword_frac,
         1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1) AS repetition_ratio
  FROM base
)
SELECT doc_id, n_tokens,
       round(mean_word_len, 6) AS mean_word_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_frac, 6) AS stopword_frac,
       round(repetition_ratio, 6) AS repetition_ratio,
       CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN repetition_ratio <= 0.9 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality_score
FROM feat
ORDER BY doc_id
"""


# ----------------------------------------------------------- language ID


@query
def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-profile language ID over documents: per-language hit
    rates → argmax (ties resolve en > de > es > fr, no hits → 'und').
    Row-level predictions oracle-checked; the operator shape (N score
    columns → greatest → case) is the scalable part — a real model
    would swap in via pandas UDF."""
    from .operators.text import language_id

    docs = load_table(spark, sf, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_pred").orderBy("doc_id")


_SW = {
    "en": "'the','and','of','to','a','in','is','that','it','for'",
    "de": "'der','die','und','das','ist','nicht','ein','mit','auf','zu'",
    "es": "'el','la','de','que','y','en','un','es','no','por'",
    "fr": "'le','la','de','et','les','des','est','un','une','dans'",
}

Q_LANGUAGE_ID_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> list_contains([{_SW['en']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_en,
         CAST(len(list_filter(t, x -> list_contains([{_SW['de']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_de,
         CAST(len(list_filter(t, x -> list_contains([{_SW['es']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_es,
         CAST(len(list_filter(t, x -> list_contains([{_SW['fr']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_fr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) > 0 THEN
              CASE WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                   WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                   WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                   ELSE 'fr' END
            ELSE 'und' END AS lang_pred
FROM scored
ORDER BY doc_id
"""


# --------------------------------------------------- n-gram Jaccard dedup


@query
def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, language-blocked — the
    non-probabilistic baseline the MinHash path approximates, and the
    one dedup family that IS SQL-expressible: the Spark side shingles
    through xxhash64 (long arithmetic, no string allocation) while the
    oracle uses the string shingles themselves — Jaccard is invariant
    to any injective shingle encoding, so the values match bit-exactly
    (int/int division both sides; collisions would need ~2^32 shingles)."""
    from .artifacts import minhash_base
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf, "documents")
    return ngram_jaccard_pairs(
        docs, block_cols=["lang"], k=3, threshold=0.4,
        base=minhash_base(spark, sf),
    ).orderBy("id_a", "id_b")


# NOTE: exact-equality oracle is data/seed-pinned — LSH banding
# recall is probabilistic (miss prob (1-s^2)^32 ≈ 0.4% at s=0.4's
# boundary), and this corpus/seed/banding combination happens to
# have full recall. If the testdata, seed=42, or r=2/b=32 banding
# changes and this row starts failing, diagnose as an expected LSH
# miss (compare against q_ngram_jaccard's pair set) before
# suspecting the operator.
@query(oracle=lambda: Q_NGRAM_JACCARD_SQL)
def q_minhash_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path for exact n-gram Jaccard dedup: MinHash-LSH
    candidate generation → exact Jaccard verify, language-blocked. Same
    semantics (and same oracle) as ``q_ngram_jaccard``, but pair work
    is proportional to the LSH candidate set instead of the full
    within-block O(n²) — this is the form to run block-wide exact
    dedup at 100 TB. The oracle equality itself demonstrates banding
    recall: every pair the exhaustive block scan finds at Jaccard ≥0.4
    survives the r=2×b=32 banding on this corpus (measured at sf0.01:
    33,487 within-lang pairs → 62 LSH candidates, 540×, same 6-pair
    result). Signatures come from the per-corpus artifact store
    (artifacts.py), shared with q_minhash_pairs — the banding/threshold
    parameters differ per query, the signature tables don't."""
    from .artifacts import minhash_base, minhash_mins
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    return minhash_then_exact(
        docs,
        k=3,
        threshold=0.4,
        num_hashes=64,
        bands=32,
        block_cols=["lang"],
        base=minhash_base(spark, sf),
        mins=minhash_mins(spark, sf),
    ).orderBy("id_a", "id_b")


Q_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
ORDER BY id_a, id_b
"""


# ------------------------------------------------------- full outer join


@query
def q_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join of two per-nation aggregates (customer count vs
    supplier count) with COALESCE over both null sides — the join type
    the other registry queries don't exercise. Both sides pre-aggregate
    to nation cardinality, so the join is trivially broadcast-able."""
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    by_c = cust.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count("*").alias("n_customers")
    )
    by_s = supp.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        by_c.join(by_s, by_c["c_nk"] == by_s["s_nk"], "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


Q_FULL_OUTER_SQL = """
SELECT COALESCE(c_nk, s_nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS c_nk, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS s_nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
ON c_nk = s_nk
ORDER BY nationkey
"""


# ------------------------------------------------------- ranking family


@query
def q_rank_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """The full ranking-function family over one deterministic ordering:
    rank, dense_rank, percent_rank, cume_dist, ntile(4). Supplier
    account balances per nation — small enough to eyeball, exercises
    every ranking physical mode in one window."""
    from pyspark.sql.window import Window

    supp = load_table(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("s_nationkey", "s_suppkey")


Q_RANK_FUNCS_SQL = """
SELECT s_nationkey, s_suppkey,
       CAST(RANK()         OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK()   OVER w AS INTEGER) AS drnk,
       PERCENT_RANK()      OVER w AS prnk,
       CUME_DIST()         OVER w AS cdist,
       CAST(NTILE(4)       OVER w AS INTEGER) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
ORDER BY s_nationkey, s_suppkey
"""


# ------------------------------------------------- deterministic sampling


@query
def q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sampling (~1/8 of rows by md5 prefix of the
    business key) + aggregate over the sample. ``df.sample`` uses
    engine-local RNG and can never oracle-match; key-hash sampling is
    the reproducible form used for experiment subsets at 100 TB — same
    rows every run, on any engine, no coordination. The filter is
    JVM-side codegen and pipelines into the scan."""
    li = load_table(spark, sf, "lineitem")
    bucket = F.substring(
        F.md5(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))), 1, 1
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(bucket.isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("sample_rows"),
            dsum(revenue).alias("sample_revenue"),
        )
        .orderBy("l_returnflag")
    )


Q_HASH_SAMPLE_SQL = """
SELECT l_returnflag,
       COUNT(*) AS sample_rows,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS sample_revenue
FROM lineitem
WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1)
      IN ('0', '1')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ------------------------------------------------------ moment statistics


@query
def q_stats_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Second-moment statistics (sample variance/stddev, covariance,
    correlation) built from exact decimal sums — the engines' native
    stddev/corr use different streaming algorithms (Welford vs naive)
    whose float results drift, so the moments are assembled from
    Sx/Sy/Sxx/Syy/Sxy with identical double arithmetic on both sides.
    This is also the map-side-combinable form you want at 100 TB (one
    pass, six partial sums per group).

    Variable choice matters for the oracle: quantity (integer-valued)
    and discount (<=2 decimals) square to <=4-decimal values whose
    DECIMAL(38,6) casts are exact and whose sums stay below 2^53/10^6 —
    above that, DuckDB's decimal->double cast double-rounds (int128 ->
    double -> scale) where Spark rounds once, so sums of squared PRICES
    drift a ulp. See NOTES.md determinism contract."""
    return _moments_finish(_moments_partial(load_table(spark, sf, "lineitem")))


def _moments_partial(li: DataFrame) -> DataFrame:
    """Per return flag: n and the exact DECIMAL(38,6) sums Σx, Σy, Σxx,
    Σyy, Σxy — associative, so stored partials merge with
    ``merge_sums(_, "l_returnflag")`` to the whole-table sums bit-exactly."""
    x, y = F.col("l_quantity"), F.col("l_discount")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(x)).alias("sx"),
        F.sum(_dec(y)).alias("sy"),
        F.sum(_dec(x * x)).alias("sxx"),
        F.sum(_dec(y * y)).alias("syy"),
        F.sum(_dec(x * y)).alias("sxy"),
    )


def _moments_finish(sums: DataFrame) -> DataFrame:
    """The moments from the exact sums, in double arithmetic both
    engines evaluate identically."""
    n, sx, sy, sxx, syy, sxy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    # n==1 (sample variance undefined) and zero-variance groups go
    # NULL instead of raising ANSI DIVIDE_BY_ZERO — the guards are
    # no-ops on any group with >=2 rows and non-constant values
    var_x = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    var_y = F.when(n > 1.0, (syy - sy * sy / n) / (n - F.lit(1.0)))
    cov = F.when(n > 1.0, (sxy - sx * sy / n) / (n - F.lit(1.0)))
    # corr from cov/sd·sd (not the n·Sxy − Sx·Sy form): a*b − c*d invites
    # compiler FMA contraction in native engines → last-ulp drift
    corr = F.when(
        (var_x > 0) & (var_y > 0), cov / (F.sqrt(var_x) * F.sqrt(var_y))
    )
    return sums.select(
        "l_returnflag",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        var_y.alias("var_disc"),
        cov.alias("covar_qty_disc"),
        corr.alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


Q_STATS_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       (sxx - sx * sx / n) / (n - 1.0) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) AS stddev_qty,
       (syy - sy * sy / n) / (n - 1.0) AS var_disc,
       (sxy - sx * sy / n) / (n - 1.0) AS covar_qty_disc,
       ((sxy - sx * sy / n) / (n - 1.0))
         / (sqrt((sxx - sx * sx / n) / (n - 1.0)) * sqrt((syy - sy * sy / n) / (n - 1.0)))
         AS corr_qty_disc
FROM s
ORDER BY l_returnflag
"""


# ------------------------------------------------------- array surface


@query
def q_array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """ArrayType surface: collect_set/sort_array/size/contains/slice plus
    the transform & filter higher-order functions (all JVM-side codegen —
    no Python in the loop). Sorted int arrays keep every result
    order-deterministic on both engines.

    Array outputs are serialized to comma-joined strings AFTER the HOF
    pipeline (array_join ↔ DuckDB array_to_string) so the driver's pandas
    canonicalizer — which cannot sort list-typed cells — can hash the
    rows; the HOFs themselves still run on real ArrayType columns."""
    li = load_table(spark, sf, "lineitem")
    statuses = F.sort_array(F.collect_set("l_linestatus"))
    linenos = F.sort_array(F.collect_set("l_linenumber"))

    def join_ints(col):
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    return (
        li.groupBy("l_returnflag")
        .agg(statuses.alias("statuses"), linenos.alias("linenos"))
        .select(
            "l_returnflag",
            F.array_join("statuses", ",").alias("statuses_csv"),
            F.size("statuses").alias("n_statuses"),
            F.array_contains("statuses", "O").alias("has_open"),
            join_ints(F.slice("linenos", 1, 3)).alias("first_linenos"),
            join_ints(F.transform("linenos", lambda x: x * 2)).alias("doubled"),
            join_ints(F.filter("linenos", lambda x: x % 2 == 0)).alias("evens"),
        )
        .orderBy("l_returnflag")
    )


Q_ARRAY_FUNCS_SQL = """
SELECT l_returnflag,
       array_to_string(statuses, ',') AS statuses_csv,
       CAST(len(statuses) AS INTEGER) AS n_statuses,
       list_contains(statuses, 'O') AS has_open,
       array_to_string(linenos[1:3], ',') AS first_linenos,
       array_to_string(list_transform(linenos, x -> x * 2), ',') AS doubled,
       array_to_string(list_filter(linenos, x -> x % 2 = 0), ',') AS evens
FROM (
  SELECT l_returnflag,
         list_sort(list(DISTINCT l_linestatus)) AS statuses,
         list_sort(list(DISTINCT l_linenumber)) AS linenos
  FROM lineitem GROUP BY l_returnflag
)
ORDER BY l_returnflag
"""


# ------------------------------------------------- multimodal frame sample


@query
def q_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal frame sampling ([EXT] §2.11): every 4th 64-byte frame
    of each document payload via mapInPandas (per-batch explode — output
    cardinality ≠ input cardinality, the defining mapInPandas case).
    Frames verified byte-exactly through md5."""
    from .operators.multimodal import documents_as_media, sample_frames

    docs = load_table(spark, sf, "documents")
    frames = sample_frames(documents_as_media(docs), every_n=4, frame_size=64)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_len",
        F.md5(F.col("frame")).alias("frame_md5"),
    )


# DuckDB cannot slice BLOBs; the testdata documents are pure ASCII
# (octet_length == length at every sf), so VARCHAR substring is
# byte-exact here.
Q_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       CAST(idx AS INTEGER) AS frame_idx,
       CAST(LEAST(64, octet_length(CAST(text AS BLOB)) - idx*64) AS INTEGER) AS frame_len,
       md5(substring(text, CAST(idx*64+1 AS BIGINT), 64)) AS frame_md5
FROM documents, LATERAL (
  SELECT unnest(range(0, GREATEST(1, CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS BIGINT)), 4)) AS idx
) t
"""


# ------------------------------------------------- stdlib PNG decode


@query
def q_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Real image decode through the multimodal plumbing ([EXT] §2.11):
    each document's first 64 bytes become an 8×8 grayscale PNG via the
    stdlib encoder (filter type cycles with doc_id % 5 so every
    scanline-filter reversal path — None/Sub/Up/Average/Paeth — runs on
    corpus data), then ``decode_image(codec="png")`` decodes the real
    compressed PNGs back to pixel tensors inside Arrow-batched
    mapInPandas. The output is an exact per-image pixel checksum
    (sum and position-weighted dot) that the oracle reproduces from the
    original text bytes — decode(encode(x)) == x verified value-exactly
    on every image, closing the round-8/9 'codec slots are stubs' gap
    for PNG. (Scale shape: one mapInPandas pass each way, no shuffle
    until the final sort; the pixel checksum folds in-row.)"""
    import pandas as _pd

    from .operators.multimodal import decode_image, png_encode_gray

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "UTF-8").alias("raw"),
    )

    def to_png(batches):
        for pdf in batches:
            payloads = []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                b = bytes(raw or b"")[:64]
                b = b + b"\x00" * (64 - len(b))
                payloads.append(png_encode_gray(b, 8, filter_type=int(mid) % 5))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    pngs = media.mapInPandas(to_png, "media_id long, payload binary")
    decoded = decode_image(pngs, codec="png")
    flat = F.flatten("pixels")
    weighted = F.zip_with(
        flat, F.sequence(F.lit(1), F.lit(64)), lambda v, i: v.cast("long") * i
    )
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.aggregate(flat, F.lit(0).cast("long"), lambda a, x: a + x).alias("px_sum"),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "px_dot"
        ),
    ).orderBy("media_id")


# -------------------------------------------- stdlib Y4M frame sample


@query
def q_y4m_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Real video-container frame sampling ([EXT] §2.11): each
    document's first 128 bytes (right-padded with 'x' — an ASCII pad
    so the oracle can reproduce it as text) become an 8-frame 4×4
    grayscale YUV4MPEG2 clip via the stdlib writer;
    ``sample_video_frames(codec="y4m")`` parses the container back and
    keeps every 2nd frame. Output is the per-frame luma md5 — the
    oracle md5s the same 16-char slices of the padded text, so
    parse(emit(x)) == x byte-exact per sampled frame. Completes the
    real-codec trio (PNG image / WAV audio / Y4M video); compressed
    codecs stay gated behind NotImplementedError."""
    import pandas as _pd

    from .operators.multimodal import sample_video_frames, y4m_encode

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 128), "UTF-8").alias("raw"),
    )

    def to_y4m(batches):
        for pdf in batches:
            payloads = []
            for raw in pdf["raw"]:
                b = bytes(raw or b"")[:128]
                b = b + b"x" * (128 - len(b))
                frames = [b[i * 16:(i + 1) * 16] for i in range(8)]
                payloads.append(y4m_encode(frames, 4, 4, colorspace="mono"))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    clips = media.mapInPandas(to_y4m, "media_id long, payload binary")
    sampled = sample_video_frames(clips, every_n=2, codec="y4m")
    return sampled.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.md5("frame").alias("frame_md5"),
    ).orderBy("media_id", "frame_idx")


Q_Y4M_FRAMES_SQL = """
SELECT doc_id AS media_id,
       CAST(idx AS INTEGER) AS frame_idx,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       md5(substring(rpad(substring(text, 1, 128), 128, 'x'),
                     CAST(idx * 16 + 1 AS BIGINT), 16)) AS frame_md5
FROM documents, LATERAL (SELECT unnest(range(0, 8, 2)) AS idx) t
ORDER BY media_id, frame_idx
"""


# ------------------------------------------------- stdlib WAV decode


@query
def q_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Real audio decode through the multimodal plumbing ([EXT] §2.11),
    the PNG query's audio twin: each document's first 64 bytes map to
    deterministic int16 samples (ascii·257 − 16384, exercising negative
    values), are written as a real 16 kHz mono PCM16 WAV by the stdlib
    encoder, and ``decode_audio(codec="wav")`` parses the RIFF
    container back inside Arrow-batched mapInPandas. Output is an
    exact per-clip sample checksum (sum and position-weighted dot) the
    oracle reproduces from the raw text bytes — decode(encode(x)) == x
    value-exact per clip. Same scale shape as q_png_decode: one
    mapInPandas pass each way, zero shuffle before the final sort."""
    import pandas as _pd

    from .operators.multimodal import decode_audio, wav_encode_pcm16

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "UTF-8").alias("raw"),
    )

    def to_wav(batches):
        for pdf in batches:
            payloads = []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                b = bytes(raw or b"")[:64]
                # The engine maps per UTF-8 BYTE while the oracle maps
                # per CHARACTER — identical only on pure-ASCII text.
                # Pin that assumption loudly (r11 ADVICE): a future
                # non-ASCII corpus fails the job with this message
                # instead of silently hash-diverging from the oracle.
                if any(v >= 0x80 for v in b):
                    raise ValueError(
                        f"q_wav_decode: non-ASCII byte in doc {mid}: the "
                        "per-byte engine mapping and the per-character "
                        "oracle diverge on non-ASCII text — extend both "
                        "together before admitting such a corpus"
                    )
                b = b + b"\x00" * (64 - len(b))
                # 7-bit mask keeps the int16 mapping total even if the
                # guard above is ever relaxed (v*257-16384 overflows
                # int16 for v >= 192; r10 ADVICE). On ASCII bytes the
                # mask is the identity.
                samples = [(v & 0x7F) * 257 - 16384 for v in b]
                payloads.append(wav_encode_pcm16(samples, 16_000, 1))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    wavs = media.mapInPandas(to_wav, "media_id long, payload binary")
    decoded = decode_audio(wavs, codec="wav")
    weighted = F.zip_with(
        "samples", F.sequence(F.lit(1), F.lit(64)), lambda v, i: v.cast("long") * i
    )
    return decoded.select(
        "media_id",
        "sample_rate",
        "n_channels",
        F.aggregate("samples", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "s_sum"
        ),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "s_dot"
        ),
    ).orderBy("media_id")


Q_WAV_DECODE_SQL = """
WITH px AS (
  SELECT doc_id, i,
         (CASE WHEN i <= length(substr(text, 1, 64))
               THEN ascii(substr(text, CAST(i AS INT), 1)) % 128 ELSE 0 END) * 257
           - 16384 AS v
  FROM documents, LATERAL (SELECT unnest(range(1, 65)) AS i) t
)
SELECT doc_id AS media_id,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * i) AS BIGINT) AS s_dot
FROM px GROUP BY doc_id ORDER BY media_id
"""


# testdata documents are pure ASCII (see Q_FRAME_SAMPLE_SQL note), so
# VARCHAR positions are byte positions and ascii() IS the payload byte.
Q_PNG_DECODE_SQL = """
WITH px AS (
  SELECT doc_id, i,
         CASE WHEN i <= length(substr(text, 1, 64))
              THEN ascii(substr(text, CAST(i AS INT), 1)) ELSE 0 END AS v
  FROM documents, LATERAL (SELECT unnest(range(1, 65)) AS i) t
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(v * i) AS BIGINT) AS px_dot
FROM px GROUP BY doc_id ORDER BY media_id
"""
