"""Coverage wave 10 ([EXT]): operational data management — the jobs a
long-lived 100-TB corpus runs around its queries.

- ``q_stream_scd2`` — streamed dimension-history maintenance: SCD2
  built incrementally from micro-batches via the append-only snapshot
  log (``streaming/partial_store.py``) + merge-on-read suppression;
  streamed history ≡ the batch q_scd2 rule (same oracle), whatever the
  chunking.
- ``q_forget_users`` — right-to-be-forgotten cascade report: a
  deterministic forget-list of customers propagates through
  customer → orders → lineitem, and the report shows per-table
  before/deleted/after counts — the audit artifact a deletion job must
  produce. One pass per table; the only join is lineitem→orders (the
  natural key chain).
- ``q_curriculum_order`` — curriculum training order: docs ranked by
  (quality bin, md5) — cleanest-first, shuffled within each bin — via
  the SAME bucketed two-phase rank as the epoch shuffle
  (``operators/ordering.global_order_index`` with a composite
  ``qbin*256 + hex-prefix`` monotone bucket), proving the operator
  generalizes beyond uniform keys without a global sort.
- ``q_multi_format_union`` — source federation: one logical table read
  back from parquet AND csv AND json landings, unioned, aggregated
  per format — the three rows must agree exactly, which is the check
  that a format migration or a mixed-landing-zone union loses nothing.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .operators.text import tokenize
from .registry import query
from .session import scratch_dir
from .streaming.partial_store import stream_partials


# ------------------------------------- streamed SCD2 maintenance


@query(twin_of="q_scd2")
def q_stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed SCD2: the event feed replays in 3 micro-batch chunks;
    each batch lands its distinct (user, ts, MIN tier) snapshots in a
    per-batch_id overwrite store (replay-idempotent). A late snapshot
    can split or extend a version an earlier batch already closed, so
    versions are never built per batch: the read path re-dedups
    (user, ts) across batches with the same MIN and runs q_scd2's one
    window pass over the merged snapshots. MIN is associative, so
    streamed ≡ batch exactly — the oracle is the batch rule,
    unchanged."""
    from .queries_ext4 import _scd2_finish, _scd2_partial

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    snaps = stream_partials(spark, ev, F.col("event_id") % 3, _scd2_partial, "stream_scd2_")
    return _scd2_finish(snaps.groupBy("user_id", "ts").agg(F.min("tier").alias("tier")))


# --------------------------------- right-to-be-forgotten cascade


@query
def q_forget_users(spark: SparkSession, sf: str) -> DataFrame:
    """Deletion-cascade audit: customers with c_custkey % 53 == 0 are
    the (deterministic, synthetic) forget list; their orders and those
    orders' lineitems cascade. Emits per-table (n_before, n_deleted,
    n_after). customer/orders resolve membership as a pure per-row
    predicate (zero extra joins); lineitem resolves through its
    natural FK join to orders — the one unavoidable join in the chain,
    and a plain equi-join Catalyst shuffles on the key. The report is
    the artifact; the deletes themselves are the matching anti-joins
    written back via io.sinks (idempotent overwrite)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")

    def report(df, flag, name):
        return df.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(flag, one).otherwise(zero)).alias("n_deleted"),
        ).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_deleted",
            (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
        )

    c_row = report(cust, F.col("c_custkey") % 53 == 0, "customer")
    o_row = report(orders, F.col("o_custkey") % 53 == 0, "orders")
    li_flagged = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    l_row = report(li_flagged, F.col("o_custkey") % 53 == 0, "lineitem")
    return c_row.unionByName(o_row).unionByName(l_row).orderBy("table_name")


Q_FORGET_USERS_SQL = """
SELECT 'customer' AS table_name, COUNT(*) AS n_before,
       CAST(SUM(CASE WHEN c_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       COUNT(*) - CAST(SUM(CASE WHEN c_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM customer
UNION ALL
SELECT 'orders', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*) - CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*) - CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
ORDER BY table_name
"""


# -------------------------------------- curriculum training order


@query
def q_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum order: rank docs by (quality bin ASC, md5 shuffle) —
    cleanest bin first, reproducibly shuffled within each bin — using
    the epoch-shuffle's bucketed two-phase rank with a COMPOSITE
    monotone bucket (qbin·256 + md5-hex prefix). Same zero-global-sort
    guarantee; proves global_order_index generalizes to any key whose
    prefix structure yields a monotone coarsening. Quality bins come
    from the q_quality_scores repetition ratio (≤0.55 / ≤0.65 / rest)."""
    from .operators.ordering import global_order_index, hex_prefix_bucket

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = F.round(
        F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1)), 9
    )
    qbin = (
        F.when(rep <= 0.55, 0).when(rep <= 0.65, 1).otherwise(2).cast("int")
    )
    key = F.md5(F.concat(F.lit("cur0:"), F.col("doc_id").cast("string")))
    staged = docs.select(
        "doc_id", qbin.alias("qbin"), key.alias("_key")
    )
    bucket = F.col("qbin").cast("long") * 256 + hex_prefix_bucket("_key")
    out = global_order_index(
        staged, ["qbin", "_key", "doc_id"], bucket, num_buckets=768, pos_col="pos"
    )
    return out.select("doc_id", "qbin", "pos").orderBy("doc_id")


Q_CURRICULUM_ORDER_SQL = r"""
WITH q AS (
  SELECT doc_id,
         CASE WHEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS BIGINT)
                          / GREATEST(CAST(len(toks) AS BIGINT), 1), 9) <= 0.55 THEN 0
              WHEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS BIGINT)
                          / GREATEST(CAST(len(toks) AS BIGINT), 1), 9) <= 0.65 THEN 1
              ELSE 2 END AS qbin
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents)
)
SELECT doc_id, qbin,
       CAST(ROW_NUMBER() OVER (ORDER BY qbin,
                               md5('cur0:' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS BIGINT) AS pos
FROM q ORDER BY doc_id
"""


# ------------------------------------------- format federation


_FEDERATION_DIRS: dict[str, str] = {}


@query
def q_multi_format_union(spark: SparkSession, sf: str) -> DataFrame:
    """Source federation / migration check: the purchase slice of
    events lands once as parquet, csv, and json; the query reads all
    three landings with one explicit schema, unions them with a format
    tag, and aggregates per format. The three rows must agree exactly
    — the loss-free round-trip certificate for a mixed landing zone.
    At scale each format scan is its own pushdown-capable source
    subtree under one union (Catalyst plans them independently);
    agreement failures localize to the format that drifted."""
    key = sf
    if key not in _FEDERATION_DIRS:
        d = scratch_dir("federation_")
        slice_ = (
            load_table(spark, sf, "events")
            .where(F.col("event_type") == "purchase")
            .select("event_id", "value")
        )
        slice_.write.mode("overwrite").parquet(f"{d}/pq")
        slice_.write.mode("overwrite").option("header", "true").csv(f"{d}/csv")
        slice_.write.mode("overwrite").json(f"{d}/js")
        _FEDERATION_DIRS[key] = d
    d = _FEDERATION_DIRS[key]
    schema = "event_id long, value double"
    parts = [
        spark.read.schema(schema).parquet(f"{d}/pq").withColumn(
            "fmt", F.lit("parquet")
        ),
        spark.read.schema(schema)
        .option("header", "true")
        .csv(f"{d}/csv")
        .withColumn("fmt", F.lit("csv")),
        spark.read.schema(schema).json(f"{d}/js").withColumn("fmt", F.lit("json")),
    ]
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        union.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("fmt")
    )


Q_MULTI_FORMAT_UNION_SQL = """
WITH a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
  FROM events WHERE event_type = 'purchase'
)
SELECT fmt, n, sum_value
FROM a, (VALUES ('csv'), ('json'), ('parquet')) AS f(fmt)
ORDER BY fmt
"""
