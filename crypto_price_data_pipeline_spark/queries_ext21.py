"""Coverage wave 21 ([EXT]): physical-layout engineering and
optimizer statistics — the 100-TB knobs made first-class queries —
plus a streamed change-point.

- ``q_zorder_layout`` — Z-order (Morton) clustering audit: scale two
  join/filter keys to 16 bits, bit-interleave them (the magic-bits
  spread, pure integer ops), bucket rows by the top 6 Morton bits,
  and report how many buckets (and rows) a 2-D box predicate must
  scan under Z-order vs a linear single-key sort. This is the
  decision artifact for choosing a table's clustering layout: Z-order
  prunes on BOTH dims, linear on one. All-integer arithmetic — the
  oracle is bit-exact.
- ``q_equi_depth_histogram`` — 16-bucket equi-depth histogram of
  order totalprice (the CBO statistic): NTILE semantics from the
  exact two-phase global rank (operators/ordering.py), per-bucket
  n/min/max — no single-partition window.
- ``q_clustering_factor`` — intra-order monotonicity of lineitem
  dates: per-order (partitioned window — no global sort) count of
  sequence breaks in ship/receipt dates scanned in linenumber order.
  The "how clustered is this column in storage order" stat that
  decides whether re-sorting a table is worth the shuffle.
- ``q_stream_changepoint`` — streamed CUSUM: per-batch daily
  (Σ value, n) partials are ADDITIVE state, so the read side merges
  by day and runs q_changepoint's own scan. Streamed ≡ batch
  q_changepoint, same oracle verbatim.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query
from .streaming.partial_store import day_chunk_expr, merge_sums, stream_partials


# ------------------------------------------------ Z-order layout


def _spread16(col: Column) -> Column:
    """Spread a 16-bit int's bits to the even positions of a 32-bit
    value, computed in 64-bit lanes (sy << 1 tops 2^31 — int32 would
    overflow under ANSI; identical BIGINT ops exist in DuckDB)."""
    v = col.cast("long")
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


# the 2-D box predicate both layouts are audited against: the
# [10%, 20%] slice of each scaled key domain
_BOX_LO, _BOX_HI = 6554, 13107


@query
def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """One-row layout audit: buckets/rows a 2-D box predicate scans
    under Z-order vs linear clustering of lineitem (partkey, suppkey).

    Keys scale to [0, 65535] by exact integer arithmetic; Morton
    interleave is 8 shifts + masks per row (all in whole-stage
    codegen); bucket stats are one 64/65-key hash aggregate each.
    A bucket must be scanned iff its [min,max] box intersects the
    predicate box on every dimension — exactly the parquet row-group
    min/max pruning rule this query models. At 100 TB the same plan
    shape audits real file-level stats (bucket id → file id).
    """
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey"),
        F.max("l_partkey"),
        F.min("l_suppkey"),
        F.max("l_suppkey"),
    ).first()
    if bounds[0] is None:
        # empty fact table: nothing to lay out
        return spark.createDataFrame(
            [],
            "layout string, n_buckets bigint, buckets_scanned bigint,"
            " rows_scanned bigint",
        )
    pk_lo, pk_hi, sk_lo, sk_hi = (int(x) for x in bounds)
    pk_span = max(pk_hi - pk_lo, 1)
    sk_span = max(sk_hi - sk_lo, 1)
    ux = ((F.col("l_partkey") - F.lit(pk_lo)) * 65535) / F.lit(pk_span)
    uy = ((F.col("l_suppkey") - F.lit(sk_lo)) * 65535) / F.lit(sk_span)
    scaled = li.select(
        F.floor(ux).cast("long").alias("ux"),
        F.floor(uy).cast("long").alias("uy"),
    )
    morton = _spread16(F.col("ux")).bitwiseOR(
        F.shiftleft(_spread16(F.col("uy")), 1)
    )
    coded = scaled.select(
        "ux",
        "uy",
        F.shiftrightunsigned(morton, 26).cast("long").alias("zbucket"),
        F.shiftrightunsigned(F.col("ux"), 10).cast("long").alias("lbucket"),
    )

    def bucket_stats(df: DataFrame, key: str) -> DataFrame:
        return df.groupBy(key).agg(
            F.min("ux").alias("min_x"),
            F.max("ux").alias("max_x"),
            F.min("uy").alias("min_y"),
            F.max("uy").alias("max_y"),
            F.count(F.lit(1)).alias("n"),
        )

    def audit(stats: DataFrame) -> DataFrame:
        hit = (F.col("max_x") >= _BOX_LO) & (F.col("min_x") <= _BOX_HI) & (
            F.col("max_y") >= _BOX_LO
        ) & (F.col("min_y") <= _BOX_HI)
        return stats.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(hit.cast("long")).alias("buckets_scanned"),
            F.sum(F.when(hit, F.col("n")).otherwise(0)).alias("rows_scanned"),
        )

    z = audit(bucket_stats(coded, "zbucket")).select(
        F.lit("zorder").alias("layout"), "n_buckets", "buckets_scanned", "rows_scanned"
    )
    lin = audit(bucket_stats(coded, "lbucket")).select(
        F.lit("linear").alias("layout"), "n_buckets", "buckets_scanned", "rows_scanned"
    )
    return z.unionByName(lin).orderBy("layout")


Q_ZORDER_LAYOUT_SQL = """
WITH b AS (
  SELECT MIN(l_partkey) AS pk_lo, GREATEST(MAX(l_partkey) - MIN(l_partkey), 1) AS pk_span,
         MIN(l_suppkey) AS sk_lo, GREATEST(MAX(l_suppkey) - MIN(l_suppkey), 1) AS sk_span
  FROM lineitem),
scaled AS (
  SELECT CAST(FLOOR(CAST((l_partkey - pk_lo) * 65535 AS DOUBLE) / pk_span) AS BIGINT) AS ux,
         CAST(FLOOR(CAST((l_suppkey - sk_lo) * 65535 AS DOUBLE) / sk_span) AS BIGINT) AS uy
  FROM lineitem, b),
sp AS (
  SELECT ux, uy,
         ((((ux | (ux << 8)) & 16711935) | (((ux | (ux << 8)) & 16711935) << 4)) & 252645135) AS sx1,
         ((((uy | (uy << 8)) & 16711935) | (((uy | (uy << 8)) & 16711935) << 4)) & 252645135) AS sy1
  FROM scaled),
sp2 AS (
  SELECT ux, uy,
         (((sx1 | (sx1 << 2)) & 858993459) | ((((sx1 | (sx1 << 2)) & 858993459)) << 1)) & 1431655765 AS sx,
         (((sy1 | (sy1 << 2)) & 858993459) | ((((sy1 | (sy1 << 2)) & 858993459)) << 1)) & 1431655765 AS sy
  FROM sp),
coded AS (
  SELECT ux, uy,
         CAST((sx | (sy << 1)) >> 26 AS BIGINT) AS zbucket,
         CAST(ux >> 10 AS BIGINT) AS lbucket
  FROM sp2),
zstats AS (
  SELECT zbucket, MIN(ux) AS min_x, MAX(ux) AS max_x,
         MIN(uy) AS min_y, MAX(uy) AS max_y, COUNT(*) AS n
  FROM coded GROUP BY 1),
lstats AS (
  SELECT lbucket, MIN(ux) AS min_x, MAX(ux) AS max_x,
         MIN(uy) AS min_y, MAX(uy) AS max_y, COUNT(*) AS n
  FROM coded GROUP BY 1),
zaudit AS (
  SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zstats),
laudit AS (
  SELECT 'linear' AS layout, COUNT(*) AS n_buckets,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM lstats)
SELECT * FROM zaudit UNION ALL SELECT * FROM laudit ORDER BY layout
"""


# ------------------------------------- equi-depth histogram (CBO)


@query
def q_equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """16-bucket equi-depth histogram of o_totalprice — the planner
    statistic (selectivity estimation) as a query, with NTILE(16)
    semantics but NO global-sort window: the exact global rank of
    (price, orderkey) comes from ``operators.ordering.
    global_order_index`` (value-range pre-bucket → per-bucket local
    row_number → broadcast bucket-prefix offsets — the packing.py
    two-phase prefix-sum shape), and the NTILE bucket is derived from
    the rank with the exact NTILE rule (first ``n mod 16`` tiles get
    ``n div 16 + 1`` rows). Bit-identical to the ntile form the oracle
    runs, parallel across ~256 range buckets instead of one task.
    Heavily skewed value distributions would size the range buckets
    from approx quantiles instead of min/max; uniform-width is right
    for this column and keeps the boundary pass to one min/max agg.
    """
    from .operators.ordering import global_order_index, ntile_from_rank

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    stats = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("o_totalprice").cast("double")).alias("lo"),
        F.max(F.col("o_totalprice").cast("double")).alias("hi"),
    ).first()
    if int(stats["n"]) == 0:
        # empty input: min/max are NULL — short-circuit with the
        # output schema instead of a TypeError on float(None)
        return spark.createDataFrame(
            [], "bucket long, n long, lo double, hi double"
        )
    n, lo, hi = int(stats["n"]), float(stats["lo"]), float(stats["hi"])
    width = (hi - lo) / 256.0 or 1.0
    # monotone coarsening of the price order: floor((p - lo) / width)
    # (decimal→double cast is order-preserving; collisions only merge
    # adjacent buckets, never reorder)
    range_bucket = F.least(
        F.floor((F.col("o_totalprice").cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(255),
    ).cast("long")
    ranked = global_order_index(
        orders, ["o_totalprice", "o_orderkey"], range_bucket, num_buckets=256
    )
    return (
        ranked.withColumn("bucket", ntile_from_rank("pos", n, 16).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


Q_EQUI_DEPTH_HISTOGRAM_SQL = """
WITH t AS (
  SELECT o_totalprice,
         NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders)
SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM t GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------- clustering factor


@query
def q_clustering_factor(spark: SparkSession, sf: str) -> DataFrame:
    """Storage-order monotonicity of lineitem date columns: within
    each order (linenumber = stored sequence), count breaks (a row
    whose date precedes its predecessor's). Per-order windows — no
    global sort, fully parallel at any scale. The re-cluster decision
    metric: a high break fraction on a hot filter column means
    sorting the table on it buys row-group pruning.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_partkey"
    )
    # (l_orderkey, l_linenumber) is NOT unique in this testdata — the
    # extra keys make the scan order total, or the lag (and the break
    # counts) would be engine-ambiguous on ties.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_shipdate"
    )

    def breaks(col: str) -> DataFrame:
        prev = F.lag(col).over(w)
        flagged = li.select(
            F.when(prev.isNotNull() & (F.col(col) < prev), 1)
            .otherwise(0)
            .alias("brk"),
            F.when(F.lag(col).over(w).isNotNull(), 1).otherwise(0).alias("cmp"),
        )
        return flagged.agg(
            F.sum("brk").alias("n_breaks"), F.sum("cmp").alias("n_compared")
        )

    out = []
    for col in ("l_partkey", "l_shipdate"):
        out.append(
            breaks(col).select(
                F.lit(col).alias("column_name"),
                "n_breaks",
                "n_compared",
                F.when(
                    F.col("n_compared") > 0,
                    F.round(
                        F.lit(1.0)
                        - F.col("n_breaks").cast("double")
                        / F.col("n_compared").cast("double"),
                        9,
                    ),
                ).alias("monotone_frac_r9"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("column_name")


Q_CLUSTERING_FACTOR_SQL = """
WITH lagged AS (
  SELECT l_shipdate, l_partkey,
         LAG(l_shipdate) OVER w AS prev_ship,
         LAG(l_partkey) OVER w AS prev_pk
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_shipdate)),
per AS (
  SELECT 'l_partkey' AS column_name,
         CAST(SUM(CASE WHEN prev_pk IS NOT NULL AND l_partkey < prev_pk THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
         CAST(SUM(CASE WHEN prev_pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_compared
  FROM lagged
  UNION ALL
  SELECT 'l_shipdate' AS column_name,
         CAST(SUM(CASE WHEN prev_ship IS NOT NULL AND l_shipdate < prev_ship THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
         CAST(SUM(CASE WHEN prev_ship IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_compared
  FROM lagged)
SELECT column_name, n_breaks, n_compared,
       ROUND(1.0 - CAST(n_breaks AS DOUBLE) / CAST(n_compared AS DOUBLE), 9) AS monotone_frac_r9
FROM per ORDER BY column_name
"""


# ------------------------------------------- streamed change-point


@query(twin_of="q_changepoint")
def q_stream_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed CUSUM change-point: per-batch (day, Σ value, n)
    decimal partials are additive semigroup state — the read side
    sums them by day and runs q_changepoint's own argmax scan, so
    streamed ≡ batch (same oracle). Per-batch_id overwrite keeps
    replays idempotent.
    """
    from .queries_ext19 import _changepoint_finish, _changepoint_partial

    ev = load_table(spark, sf, "events").select("event_id", "ts", "value")
    daily = stream_partials(
        spark, ev, day_chunk_expr(), _changepoint_partial, "stream_cpt_"
    )
    return _changepoint_finish(merge_sums(daily, "day"))
