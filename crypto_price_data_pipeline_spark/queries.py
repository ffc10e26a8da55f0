"""Query registry: every implemented operator as a (spark_fn, oracle_sql) pair.

Each entry is a named query over the testdata tables (TESTDATA.md). The
Spark side is idiomatic DataFrame code; the oracle is ANSI SQL DuckDB
runs on the same parquet — the driver hash-compares both at sf=0.01
(row count + schema + order-insensitive value hash).

Determinism contract (why the decimal casts): Spark aggregates doubles
in partition order, DuckDB sequentially — float addition isn't
associative, so raw SUM(double) hash-mismatches. Both sides therefore
sum through ``DECIMAL(38,6)`` (exact, associative) and cast the result
back to double: bit-identical everywhere, at ~zero cost (decimal sums
still vectorize). Products stay in double *per row* (deterministic)
and are only decimal-cast at the aggregation boundary, with identical
parenthesization in both engines. Averages divide the exact decimal sum
(as double) by the count. Top-k queries always order with a unique-key
tiebreak.

Adding a query: decorate it with ``@query`` (registry.py) where it is
defined. Its registry name is the function's ``__name__``; a name that
is already registered raises at import. Its oracle is the defining
module's ``Q_<NAME>_SQL`` constant (``q_foo`` → ``Q_FOO_SQL``), looked
up by ``seal()`` below once every query module has been imported, so
the constant may sit below the function. A query whose oracle is shared
or computed passes ``@query(oracle=lambda: OTHER_SQL)``. A streamed or
served twin passes ``@query(twin_of="q_batch")`` and inherits that
query's oracle. A new query module goes into the import list at the
bottom of this file. Every query has an oracle; queries whose values are
engine-specific (xxhash64, ANN) are oracled on what they induce (see
q_simhash_pairs, q_fingerprints, Q_ANN_RECALL_SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalars import _dec, dsum, davg
from .io.sources import load_table
from .registry import ORACLES, QUERIES, query, seal
from .session import materialize

# ---------------------------------------------------------------- helpers


def _col(name: str) -> Column:
    return F.col(name)


# SQL-side twins
def S_DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def S_DAVG(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr})"


# ------------------------------------------------------- relational core


@query(oracle=lambda: Q01_SQL)
def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→hash-agg→sort. The flagship query
    (SURVEY.md §7 'minimum end-to-end slice')."""
    li = load_table(spark, sf, "lineitem")
    disc_price = _col("l_extendedprice") * (1 - _col("l_discount"))
    charge = (_col("l_extendedprice") * (1 - _col("l_discount"))) * (1 + _col("l_tax"))
    return (
        li.where(_col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(_col("l_quantity")).alias("sum_qty"),
            dsum(_col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(_col("l_quantity")).alias("avg_qty"),
            davg(_col("l_extendedprice")).alias("avg_price"),
            davg(_col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_quantity')} AS sum_qty,
       {S_DSUM('l_extendedprice')} AS sum_base_price,
       {S_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {S_DSUM('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
       {S_DAVG('l_quantity')} AS avg_qty,
       {S_DAVG('l_extendedprice')} AS avg_price,
       {S_DAVG('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(oracle=lambda: Q02_SQL)
def q02_filter_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Projection + predicate — both reach the parquet scan (check
    PushedFilters/ReadSchema in .explain)."""
    li = load_table(spark, sf, "lineitem")
    return li.where(
        (_col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (_col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
        & (_col("l_quantity") < 10)
    ).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")


Q02_SQL = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
  AND l_quantity < 10
"""


@query(oracle=lambda: Q03_SQL)
def q03_segment_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-10 (TakeOrderedAndProject)."""
    cust = load_table(spark, sf, "customer").where(_col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(
        _col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").where(
        _col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _col("l_extendedprice") * (1 - _col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "l_orderkey",
            # timestamps leave the engine as canonical strings so the
            # oracle compare is representation-independent (Spark
            # collects tz-aware UTC, DuckDB naive — same instant,
            # different repr)
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q03_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority,
       {S_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query(oracle=lambda: Q05_SQL)
def q05_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, facts shuffle
    once on the join keys."""
    region = load_table(spark, sf, "region").where(_col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (_col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (_col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    revenue = _col("l_extendedprice") * (1 - _col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q05_SQL = f"""
SELECT n_name, {S_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query(oracle=lambda: Q06_SQL)
def q06_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-scalar-agg (no shuffle beyond
    the final single-row reduce)."""
    li = load_table(spark, sf, "lineitem")
    return li.where(
        (_col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (_col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (_col("l_discount") >= 0.02)
        & (_col("l_discount") <= 0.09)
        & (_col("l_quantity") < 24)
    ).agg(dsum(_col("l_extendedprice") * _col("l_discount")).alias("revenue"))


Q06_SQL = f"""
SELECT {S_DSUM('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
"""


@query(oracle=lambda: Q_SEMI_SQL)
def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """left_semi = EXISTS; segment counts of customers with ≥1 open order."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(_col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


Q_SEMI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query(oracle=lambda: Q_ANTI_SQL)
def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """left_anti = NOT EXISTS; customers with no orders at all."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query(oracle=lambda: Q_TOPK_GROUP_SQL)
def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders by totalprice per priority (ranking window)."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(_col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


Q_TOPK_GROUP_SQL = """
SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


@query
def q_window_delta(spark: SparkSession, sf: str) -> DataFrame:
    """lag() analytic: per-user value delta between consecutive events."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (_col("value") - F.lag("value").over(w)).alias("delta"),
    )


Q_WINDOW_DELTA_SQL = """
SELECT event_id, user_id,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
"""


@query
def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """24-row trailing moving average per user (rowsBetween frame)."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    mov = F.sum(_dec(_col("value"))).over(w).cast("double") / F.count("value").over(w)
    return ev.select("event_id", "user_id", mov.alias("mov_avg_24"))


Q_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) / COUNT(value) OVER w AS mov_avg_24
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


@query
def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING markers."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(_col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


Q_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_quantity')} AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query
def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (returnflag, linestatus)."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum(_col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


Q_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_extendedprice')} AS sum_price, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query
def q_setops(spark: SparkSession, sf: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics throughout)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    building = cust.where(_col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.where(_col("c_acctbal") > 5000).select("c_custkey")
    active = orders.select(_col("o_custkey").alias("c_custkey"))
    negative = cust.where(_col("c_acctbal") < 0).select("c_custkey")
    return building.union(rich).distinct().intersect(active).subtract(negative)


Q_SETOPS_SQL = """
SELECT c_custkey FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   UNION
   SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
  INTERSECT
  SELECT o_custkey AS c_custkey FROM orders
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
"""


@query
def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → single pass)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec(_col("l_quantity"))).cast("double"))
        .orderBy("l_returnflag")
    )


Q_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O",
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F"
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query
def q_agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggs (Catalyst expand rewrite)."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum(_col("o_totalprice")).alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


Q_AGG_DISTINCT_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       {S_DSUM('o_totalprice')} AS sum_total
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query(oracle=lambda: Q_ABOVE_AVG_SQL)
def q_above_brand_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape, decorrelated as agg + broadcast join."""
    part = load_table(spark, sf, "part")
    brand_avg = part.groupBy("p_brand").agg(davg(_col("p_retailprice")).alias("brand_avg"))
    return (
        part.join(F.broadcast(brand_avg), "p_brand")
        .where(_col("p_retailprice") > _col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_avg")
    )


Q_ABOVE_AVG_SQL = f"""
SELECT p_partkey, p_brand, p_retailprice, brand_avg
FROM part
JOIN (SELECT p_brand, {S_DAVG('p_retailprice')} AS brand_avg
      FROM part GROUP BY p_brand) USING (p_brand)
WHERE p_retailprice > brand_avg
"""


@query
def q_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range/banding join against a tiny tiers dimension (broadcast-NL
    fast path of operators.range_join.band_join)."""
    from .operators.range_join import band_join

    ev = load_table(spark, sf, "events")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")],
        "lo double, hi double, tier string",
    )
    return (
        band_join(ev, tiers, "value")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), dsum(_col("value")).alias("sum_value"))
        .orderBy("tier")
    )


Q_BAND_JOIN_SQL = f"""
SELECT tier, COUNT(*) AS n, {S_DSUM('value')} AS sum_value
FROM events
JOIN (VALUES (CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE), 'low'),
             (CAST(50.0 AS DOUBLE), CAST(150.0 AS DOUBLE), 'mid'),
             (CAST(150.0 AS DOUBLE), CAST(1e9 AS DOUBLE), 'high')) t(lo, hi, tier)
  ON value >= lo AND value < hi
GROUP BY tier ORDER BY tier
"""


@query(oracle=lambda: Q_ASOF_SQL)
def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase gets the latest prior click value of
    the same user (union+window rewrite; DuckDB verifies with its
    native ASOF JOIN)."""
    from .operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.where(_col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(_col("event_type") == "click").select(
        "user_id", "ts", _col("value").alias("last_click_value")
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )


Q_ASOF_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value, r.last_click_value
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS last_click_value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _asof_direction_query(spark: SparkSession, sf: str, direction: str, out_col: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.where(_col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(_col("event_type") == "click").select(
        "user_id", "ts", _col("value").alias(out_col)
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"], direction=direction)
    return out.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))


@query
def q_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: each purchase gets the next click value at or
    after it (same union+window plan as backward, mirrored frame).
    Oracle: correlated first-row-ahead subquery."""
    return _asof_direction_query(spark, sf, "forward", "next_click_value")


@query
def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of: closest click either side, ties backward —
    exercises the integer-microsecond distance compare."""
    return _asof_direction_query(spark, sf, "nearest", "nearest_click_value")


Q_ASOF_FORWARD_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value,
       (SELECT r.value FROM events r
         WHERE r.event_type = 'click' AND r.user_id = l.user_id AND r.ts >= l.ts
         ORDER BY r.ts LIMIT 1) AS next_click_value
FROM events l WHERE l.event_type = 'purchase'
"""

Q_ASOF_NEAREST_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value,
       (SELECT r.value FROM events r
         WHERE r.event_type = 'click' AND r.user_id = l.user_id
         ORDER BY ABS(epoch_us(r.ts) - epoch_us(l.ts)) ASC, r.ts ASC LIMIT 1) AS nearest_click_value
FROM events l WHERE l.event_type = 'purchase'
"""


@query
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap cut via lag + running sum, then
    per-user session/event counts."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(_col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_idx").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


Q_SESSIONIZE_SQL = """
SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800 * 1000000
                OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id ORDER BY user_id
"""


@query(oracle=lambda: Q_OHLC_SQL)
def q_time_bucket_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC rollup per event type (hypertable-style time bucket;
    open/close via rank-1 rows in both engines for determinism)."""
    ev = load_table(spark, sf, "events")
    bucket = F.date_format(F.date_trunc("hour", _col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
        "bucket"
    )
    base = ev.select(bucket, "event_type", "ts", "event_id", "value")
    wa = Window.partitionBy("bucket", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    wd = Window.partitionBy("bucket", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = base.select(
        "bucket",
        "event_type",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("bucket", "event_type")
        .agg(
            F.max(F.when(_col("rn_a") == 1, _col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(_col("rn_d") == 1, _col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            dsum(_col("value")).alias("volume"),
        )
    )


Q_OHLC_SQL = f"""
SELECT bucket, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_trades,
       {S_DSUM('value')} AS volume
FROM (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
GROUP BY bucket, event_type
"""


# ------------------------------------------------- BPI pipeline parity

_BPI_FIXTURE = [
    # (updated, updatedISO, usd_rate, gbp_rate, eur_rate)
    ("Dec 6, 2022 13:31:00 UTC", "2022-12-06T13:31:00+00:00", "17,091.0667", "14,022.2766", "16,105.2663"),
    ("Dec 6, 2022 14:31:00 UTC", "2022-12-06T14:31:00+00:00", "17,105.9083", "14,034.4501", "16,119.2447"),
    ("Dec 7, 2022 09:01:00 UTC", "2022-12-07T09:01:00+00:00", "16,836.7401", "13,813.5022", "15,865.5192"),
]
_BPI_RATES = [("USD", "IDR", "2022-12-06", 15650.25), ("USD", "IDR", "2022-12-07", 15671.5)]
_BPI_NOW = "2022-12-07 10:00:03"
_DISCLAIMER = "This data was produced from the CoinDesk Bitcoin Price Index (USD)."


@query(oracle=lambda: _bpi_oracle())
def q_bpi_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's full flatten→fx-join→validate chain on a golden
    multi-snapshot fixture (reference: bpi_crawler.py:93-125, 62-91,
    127-159). The oracle recomputes every scalar transform in SQL."""
    from .pipeline import run_pipeline

    rows = [
        (
            {"updated": u, "updatedISO": iso},
            _DISCLAIMER,
            "Bitcoin",
            {
                "USD": {"code": "USD", "rate": usd, "description": "United States Dollar"},
                "GBP": {"code": "GBP", "rate": gbp, "description": "British Pound Sterling"},
                "EUR": {"code": "EUR", "rate": eur, "description": "Euro"},
            },
        )
        for (u, iso, usd, gbp, eur) in _BPI_FIXTURE
    ]
    from .pipeline.schema import BPI_PAYLOAD_SCHEMA

    payloads = spark.createDataFrame(rows, BPI_PAYLOAD_SCHEMA)
    rates = spark.createDataFrame(
        _BPI_RATES, "from_ccy string, to_ccy string, rate_date string, rate double"
    ).withColumn("rate_date", F.to_date("rate_date"))
    return run_pipeline(payloads, rates, now=_BPI_NOW)


def _bpi_oracle() -> str:
    rows = []
    rate_by_date = {d: r for (_, _, d, r) in _BPI_RATES}
    for u, iso, usd, gbp, eur in _BPI_FIXTURE:
        date, time = iso[:10], iso[11:19]
        wall = f"{date} {time}"
        rate = rate_by_date[date]
        rows.append(
            "("
            f"md5(concat('{iso}', '|', 'Bitcoin')), "
            f"'{_DISCLAIMER}', 'Bitcoin', "
            f"'USD', CAST('{usd.replace(',', '')}' AS DOUBLE), 'United States Dollar', "
            f"'GBP', CAST('{gbp.replace(',', '')}' AS DOUBLE), 'British Pound Sterling', "
            f"'EUR', CAST('{eur.replace(',', '')}' AS DOUBLE), 'Euro', "
            f"CAST('{usd.replace(',', '')}' AS DOUBLE) * CAST({rate} AS DOUBLE), "
            f"'{wall}', '{wall}', '{_BPI_NOW}'"
            ")"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") t("
        "job_id, disclaimer, chart_name, "
        "bpi_usd_code, bpi_usd_rate_float, bpi_usd_description, "
        "bpi_gdp_code, bpi_gdp_rate_float, bpi_gdp_description, "
        "bpi_eur_code, bpi_eur_rate_float, bpi_eur_description, "
        "bpi_idr_rate_float, time_updated, time_updated_iso, last_updated)"
    )


# ------------------------------------------------------ text / LLM ops


@query(oracle=lambda: Q_DOC_TOKEN_SQL)
def q_doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc token counting + length stats (whitespace tokenizer)."""
    from .operators.text import token_count

    docs = load_table(spark, sf, "documents")
    n_tok = token_count("text").cast("bigint")
    n_char = F.length("text").cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_char.alias("n_chars_text"),
        ((n_char - n_tok + 1) / F.greatest(n_tok, F.lit(1))).alias("mean_word_len"),
    )


Q_DOC_TOKEN_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       (CAST(length(text) AS BIGINT) - CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) + 1)
         / GREATEST(CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT), 1) AS mean_word_len
FROM documents
"""


@query
def q_lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus stats per (lang, source): doc counts + char-length profile."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


Q_LANG_STATS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


@query
def q_word_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus term frequency top-20.

    Serving shape (r13): served entirely from the stored
    (w, lang, nib, c, df) counting cube (artifacts.token_lang_counts)
    — a vocabulary-sized scan, partial-aggregated sum over the
    (lang, nib) cells, then TakeOrderedAndProject. The corpus
    tokenize+explode runs once per corpus version at cube build, not
    per query; this plan touches zero document text. Tokenizer is the
    cube's normalized ``tokens_col`` (lower + non-alnum split, r13 —
    previously whitespace split); the oracle pins the same rule. The
    standalone explode form remains available as
    operators.text.word_frequencies for corpora without a cube."""
    from .artifacts import token_lang_counts

    tc = token_lang_counts(spark, sf)
    return (
        tc.groupBy(F.col("w").alias("word"))
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


Q_WORD_FREQ_SQL = r"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
      FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 20
"""


@query
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keep-min-id per (lang, source) group — deterministic
    row-preserving dedup via ranking window."""
    from .operators.dedup import exact_dedup

    docs = load_table(spark, sf, "documents")
    return exact_dedup(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


Q_DEDUP_EXACT_SQL = """
SELECT doc_id, lang, source, n_chars
FROM (SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
"""


@query(oracle=lambda: Q_QUALITY_SQL)
def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Doc quality features (repetition ratio + composite score)."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = (F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1))).alias("repetition_ratio")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        rep,
    )


Q_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       1.0 - CAST(len(list_distinct(toks)) AS BIGINT) / GREATEST(CAST(len(toks) AS BIGINT), 1) AS repetition_ratio
FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents)
"""


@query(oracle=lambda: Q_MEDIA_SQL)
def q_media_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload + typed metadata
    (documents' UTF-8 bytes stand in for media payloads)."""
    from .operators.multimodal import documents_as_media

    docs = load_table(spark, sf, "documents")
    media = documents_as_media(docs)
    return media.select(
        "media_id",
        _col("meta.n_bytes").alias("n_bytes"),
        F.md5(_col("payload")).alias("digest"),
    )


Q_MEDIA_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents
"""


@query
def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding
    (exact ANN baseline; TakeOrderedAndProject, no shuffle)."""
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(_col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double")
    query = [float(x) for x in _row["embedding"]]
    out = cosine_topk(emb, query, k=10)
    return out.select("vec_id", F.round("cosine_sim", 9).alias("cosine_sim_r9"))


Q_EMBEDDING_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 9) AS cosine_sim_r9
FROM embeddings, q
ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) DESC, vec_id
LIMIT 10
"""

# xxhash64-fingerprint values are Spark-only, but the doc-partition
# they induce is checkable: the oracle derives the same group
# representatives from the portable md5-chain fingerprint.
Q_FINGERPRINTS_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend('fp0', list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')),
           (acc, x) -> md5(acc || x)
         ) AS fp
  FROM documents
)
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS group_rep
FROM fp ORDER BY doc_id
"""

# The ANN queries return the exact top-10 plus an in-plan recall-floor
# boolean; the oracle asserts the floor held by emitting literal TRUE
# (see _ann_with_recall).
Q_ANN_RECALL_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 9) AS cosine_sim_r9,
       TRUE AS recall_ok
FROM embeddings, q
ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) DESC, vec_id
LIMIT 10
"""


# -------------------------------------- no-oracle (rows-only) entries


@query
def q_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs w/ exact-Jaccard verify.

    Oracle note: the banding stage is probabilistic (xxhash64, not in
    DuckDB), but the final output is {pairs with exact Jaccard >= 0.5
    that banding surfaced} — and the testdata's near-dups sit at ~0.95
    similarity where 64-hash/16-band recall is 1 (verified exhaustively
    against the full exact pair set at sf0.001 and sf0.01: identical).
    The oracle is therefore the exact-Jaccard pair set — it checks
    end-to-end near-dup semantics INCLUDING recall, which a rows-only
    check would not.

    Signatures come from the corpus artifact store (artifacts.py): the
    shingle base and the minima are per-corpus stored tables shared
    with q_minhash_exact — built once, read as parquet scans (bench
    times the cold build separately as artifact_minhash_*_build). Both
    are stored tables, so there is no signature cache to release and
    the pair plan stays lazy (``materialize=False``)."""
    from .artifacts import minhash_base, minhash_mins
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf, "documents")
    return minhash_lsh_pairs(
        docs,
        threshold=0.5,
        materialize=False,
        base=minhash_base(spark, sf),
        mins=minhash_mins(spark, sf),
    )


Q_MINHASH_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
"""


# q_simhash_pairs is oracled through induced structure (see its
# docstring): identical-token-multiset pairs at xx_hamming 0 + the
# cross-banding equivalence flag. Raw xxhash64 pair VALUES stay
# engine-specific; the md5 twin q_simhash_md5_pairs carries the
# bit-exact value-level oracle.
@query(oracle=lambda: Q_SIMHASH_XX_SQL)
def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """xxhash64-SimHash near-dup machinery, verified through its
    INDUCED STRUCTURE (the q_fingerprints trick, r6 VERDICT #2): the
    raw xxhash64 fingerprints — and even their Hamming-≤3 pair set —
    are engine-specific (empirically 17 xx pairs vs 725 md5-twin pairs
    at sf0.01: the 32-bit md5 twin is far noisier, so pair-set
    equivalence against it does NOT hold), but two structural
    properties are deterministic and portable:

    1. ``xx_hamming``: docs with IDENTICAL token multisets MUST get
       identical 64-bit simhashes (simhash is order-invariant by
       construction) — emitted per-pair from the real xxhash64
       fingerprints, oracled as literal 0. The corpus carries no
       exact duplicates at any sf (checked), so the ground pairs are
       CONSTRUCTED portably: every 16th doc gets a twin whose text is
       its token sequence reversed (same multiset, different order,
       different string) — both engines build the same augmented
       corpus and the same multiset-equality pair set, Spark alone
       evaluates the xxhash64 hamming. A bit-assembly, tokenization,
       or order-sensitivity bug flips the 0.
    2. ``banding_exact``: the 4×16 and 6×10 bandings each carry the
       pigeonhole exact-recall guarantee at Hamming ≤3, so both must
       produce THE SAME pair set (= the exhaustive one) — asserted
       in-plan over the actual xx pair sets, oracled as literal TRUE.
       A banding/bucketing bug (wrong shift, mask, dedup) breaks the
       agreement.

    Together the last rows-only registry row becomes hash-green
    without pretending DuckDB can evaluate xxhash64. Why the loose
    radius stays at 3: a Hamming-8 budget would force ≥9 bands of ≤7
    bits whose 128-value buckets blow up candidate pairs quadratically
    (measured 13s vs 1s at sf0.1) — at loose radii use combination
    blocking instead (operators/dedup.py docstrings)."""
    from .operators.dedup import simhash, simhash_pairs, tokens_col

    OFFSET = 1 << 40  # clears any real doc_id at any sf
    docs = load_table(spark, sf, "documents")
    twins = docs.where(F.col("doc_id") % 16 == 0).select(
        (F.col("doc_id") + F.lit(OFFSET)).alias("doc_id"),
        F.array_join(F.reverse(tokens_col("text")), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(twins)
    # staging (NOTES Catalyst traps): keyed feeds both ground-join
    # sides; the simhash fingerprints feed the two hamming lookups AND
    # both bandings (via sig=). Unstaged, the plan scanned documents
    # 16× — one fingerprint pass and one tokenize pass now serve all
    # consumers; eager-materialize + release keeps timing honest.
    keyed = (
        corpus.select("doc_id", F.sort_array(tokens_col("text")).alias("_k"))
        .where(F.size("_k") > 0)
        .persist()
    )
    ground = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a._k") == F.col("b._k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    sh = simhash(corpus).persist()
    out = (
        ground.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            .cast("int")
            .alias("xx_hamming"),
        )
    )
    # both bandings reuse the one persisted fingerprint pass (twins
    # filtered back out — fingerprints are per-row, so sh restricted
    # to real ids IS simhash(docs))
    sig_docs = sh.where(F.col("doc_id") < OFFSET)
    p416 = simhash_pairs(docs, max_hamming=3, sig=sig_docs).select("id_a", "id_b")
    p610 = simhash_pairs(
        docs, max_hamming=3, bands=6, bits=10, sig=sig_docs
    ).select("id_a", "id_b")
    sym_diff = p416.exceptAll(p610).unionAll(p610.exceptAll(p416))
    flag = sym_diff.agg((F.count(F.lit(1)) == 0).alias("banding_exact"))
    result = out.crossJoin(F.broadcast(flag)).orderBy("id_a", "id_b")
    try:
        return result.transform(materialize)
    finally:
        sh.unpersist()
        keyed.unpersist()


Q_SIMHASH_XX_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1099511627776,
         array_to_string(
           list_reverse(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')), ' ')
  FROM documents WHERE doc_id % 16 = 0
),
toks AS (
  SELECT doc_id,
         list_sort(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '')) AS k
  FROM aug
),
ne AS (SELECT * FROM toks WHERE len(k) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(0 AS INT) AS xx_hamming,
       TRUE AS banding_exact
FROM ne a JOIN ne b ON a.k = b.k AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def _ann_with_recall(exact: DataFrame, ann: DataFrame, k: int, floor: float) -> DataFrame:
    """Exact top-k rows + a recall@k floor assertion, all in-plan.

    The output hash covers the (oracled) exact rows AND ``recall_ok``:
    the oracle emits literal TRUE, so an ANN regression below the floor
    flips the column and fails the row — the approximate path is gated
    by the correctness check without the oracle having to reproduce
    LSH/k-means. Both sides are ≤k rows, so the joins broadcast.

    Ordering runs on the UNROUNDED cosine (tiebreak vec_id) before the
    rounded column is projected, matching the oracle's sort on raw
    cosine even when two sims collide at 9 decimals; the recall
    denominator is min(k, |exact|) so a corpus smaller than k can still
    reach recall 1.0 instead of being capped at |exact|/k."""
    # distinct() before the join: both ANN paths already dedupe/top-k,
    # but if one ever emitted a duplicate vec_id the left join would
    # fan out exact rows, inflating numerator AND denominator (and
    # duplicating output rows) — dedupe makes the gate robust to that.
    hits = exact.join(
        F.broadcast(
            ann.select("vec_id").distinct().withColumn("_hit", F.lit(1))
        ),
        "vec_id",
        "left",
    )
    recall = hits.agg(
        (
            F.coalesce(F.sum("_hit"), F.lit(0))
            / F.least(F.lit(float(k)), F.count(F.lit(1)).cast("double"))
        ).alias("_recall")
    )
    return (
        hits.crossJoin(F.broadcast(recall))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .select(
            "vec_id",
            F.round("cosine_sim", 9).alias("cosine_sim_r9"),
            (F.col("_recall") >= floor).alias("recall_ok"),
        )
    )


@query(oracle=lambda: Q_ANN_RECALL_SQL)
def q_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN cosine top-10 via sign-random-projection LSH buckets
    (6 bits, multiprobe Hamming ≤2 → 22/64 buckets probed), reported as
    the exact top-10 (bit-exact oracle) + an in-plan recall@10 ≥ 0.5
    assertion against that ground truth. The synthetic near-isotropic
    embeddings are ANN-hostile (measured recall 0.6–0.8 across sf);
    real clustered corpora probe fewer buckets for more recall."""
    from .operators.similarity import cosine_topk, hyperplane_lsh_buckets, lsh_cosine_topk

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(_col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    bucketed = hyperplane_lsh_buckets(emb, dim=len(query), bits=6)
    ann = lsh_cosine_topk(bucketed, query, k=10, bits=6, probe_radius=2)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query(oracle=lambda: Q_ANN_RECALL_SQL)
def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN cosine top-10 via an IVF index (k-means coarse quantizer,
    8 lists, 5 probed, exact re-rank), reported as the exact top-10
    (bit-exact oracle) + an in-plan recall@10 ≥ 0.5 assertion
    (measured 0.8 across sf on the synthetic corpus)."""
    from .operators.similarity import cosine_topk, ivf_build, ivf_topk

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(_col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    assigned, centroids = ivf_build(emb, n_lists=8)
    ann = ivf_topk(assigned, centroids, query, k=10, n_probe=5)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query(twin_of="q_lsh_topk")
def q_stream_ann(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-10 served from an INCREMENTALLY-built LSH index: the
    embedding table replays as a 3-micro-batch stream, each batch
    bucketing its vectors into a replay-safe per-batch_id store
    (exactly-once, cf. streaming/ann_stream.py), then the query probes
    the store exactly like the batch path. The bucket id is a pure
    function of (vector, planes), so the streamed index is row-identical
    to a one-shot build and the query result matches q_lsh_topk's —
    same exact-top-10 oracle + in-plan recall floor."""
    from .operators.similarity import cosine_topk, lsh_cosine_topk
    from .streaming.ann_stream import stream_lsh_index

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(_col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    index = stream_lsh_index(spark, emb, dim=len(query), bits=6, n_chunks=3)
    ann = lsh_cosine_topk(index, query, k=10, bits=6, probe_radius=2)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query
def q_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-10 for a 5-query batch in ONE corpus pass
    (broadcast query table, nested-loop scores, per-query window
    top-k; only 24-byte triples reach the shuffle). The serving shape
    the ANN indexes gate against — and the oracle reproduces it with
    the same dot-product arithmetic, bit-exact."""
    from .operators.similarity import cosine_topk_batch

    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(_col("vec_id") < 5).select(
        _col("vec_id").alias("q_id"), _col("embedding").alias("q_emb")
    )
    out = cosine_topk_batch(emb, queries, k=10)
    return out.select(
        "q_id", "vec_id", F.round("cosine_sim", 9).alias("cosine_sim_r9")
    ).orderBy("q_id", F.col("cosine_sim_r9").desc(), "vec_id")


Q_BATCH_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e CROSS JOIN q
),
r AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, ROUND(sim, 9) AS cosine_sim_r9
FROM r WHERE rn <= 10
ORDER BY q_id, ROUND(sim, 9) DESC, vec_id
"""


@query(oracle=lambda: Q_ANN_RECALL_SQL)
def q_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN cosine top-10 via product quantization (8 subspaces × 16
    centroids → 32× compression) + ADC shortlist (200) + exact re-rank,
    reported as the exact top-10 (bit-exact oracle) + an in-plan
    recall@10 ≥ 0.5 assertion (measured 0.9 at sf0.01 AND sf0.1 with
    shortlist 200 on the ANN-hostile isotropic corpus). Third ANN
    family next to hyperplane LSH (oblivious) and IVF (partitioning):
    PQ compresses — the one that matters when the corpus outgrows
    memory."""
    from .operators.similarity import cosine_topk, pq_build, pq_topk

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(_col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    codes, codebooks = pq_build(emb, m=8, codebook_k=16)
    ann = pq_topk(emb, codes, codebooks, query, k=10, shortlist=200)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query
def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprints. The xxhash64 VALUES are
    engine-specific, but the fingerprint's semantic content — the
    partition it induces on the corpus (which docs share a
    fingerprint) — is not: the row reports each doc's fingerprint-group
    representative (min doc_id sharing its fingerprint), which the
    oracle reproduces from the md5-chain twin. A bit-exact match proves
    both fingerprints induce the SAME duplicate-grouping (true absent
    64-bit collisions), turning the last hash-value-only check into a
    verified one. Raw values (when needed for joins) come from
    ``text.fingerprint`` directly."""
    from pyspark.sql.window import Window

    from .operators.text import fingerprint

    docs = load_table(spark, sf, "documents")
    rep = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    return (
        docs.select("doc_id", fingerprint("text").alias("fingerprint"))
        .select("doc_id", rep.alias("group_rep"))
        .orderBy("doc_id")
    )


@query
def q_stream_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming tumbling-window rollup over the events table
    (file source, availableNow; complete-mode memory sink). The final
    state equals the batch hourly agg, which the oracle verifies."""
    from .streaming.windows import tumbling_event_rollup

    return tumbling_event_rollup(spark, sf)


Q_STREAM_OHLC_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n, {S_DSUM('value')} AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# --------------------------------------------------------- the registry

# Every query module registers its queries as it loads (see the module
# docstring); import each once, then resolve the oracles.
from . import (  # noqa: E402, F401
    queries_ext, queries_ext2, queries_ext3, queries_ext4, queries_ext5, queries_ext6,
    queries_ext7, queries_ext8, queries_ext9, queries_ext10, queries_ext11,
    queries_ext12, queries_ext13, queries_ext14, queries_ext15, queries_ext16,
    queries_ext17, queries_ext18, queries_ext19, queries_ext20, queries_ext21,
    queries_ext22, queries_ext23, queries_ext24, queries_ext25, queries_ext26,
    queries_ext27, queries_ext28, queries_ext29, queries_ext30, queries_ext31,
    queries_ext32, queries_ext33, queries_ext34, queries_ext35, queries_ext36,
    queries_ext37, queries_ext38,
)

seal()
# heavy-oracle verification twins: generated LAST so they wrap the final
# registered callables/oracles
_twin_queries, _twin_oracles = queries_ext34.make_verification_twins(QUERIES, ORACLES)
QUERIES.update(_twin_queries)
ORACLES.update(_twin_oracles)
