"""Wave 33 [EXT]: streamed artifact-index maintenance and
schema-evolution-on-read (r10 verdict items 4 and 5).

- ``q_stream_artifact_index`` — the similarity index artifacts
  (MinHash base/minima, SimHash fingerprints, TF postings, winnowing
  sketch postings) maintained INCREMENTALLY through the per-batch_id
  partial-store streaming machinery (streaming/artifact_stream.py): a
  corpus append costs one micro-batch of doc-local signature work,
  never a rebuild. The query serves a per-document verification
  projection from the streamed stores — distinct-shingle count,
  md5-SimHash fingerprint (DuckDB recomputes the identical 32-bit
  value), the df-capped TF-IDF weight checksum derived at read time
  from the merged postings, and the winnow sketch size (r12) — so the
  oracle pins store CONTENT, not just row counts. Bit-equality
  of the streamed stores against the batch artifacts is additionally
  unit-pinned (tests/test_wave33.py), and the crash/restart test
  covers the replay contract.

- ``q_schema_evolution`` — a two-generation parquet landing (an early
  generation with 32-bit keys, float prices, and a missing column;
  a later generation with widened types and the new column) read
  through one explicit unified schema: parquet upcasts INT→BIGINT and
  FLOAT→DOUBLE per file and fills the absent column with NULL —
  the lakehouse schema-evolution-on-read contract. (Spark's
  ``mergeSchema`` merges ADDED columns but refuses widened types —
  CANNOT_MERGE_SCHEMAS — so the unified-schema read IS the widening
  path; the rejection path for incompatible drift is unit-pinned.)

Reference parity: the reference pipeline reads a fixed one-record
schema (`dags/bpi_crawler/bpi_crawler.py:69-140`) and has no landing
evolution story; both queries are [EXT] §2.11 surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .registry import query
from .session import scratch_dir

# ----------------------------------- streamed artifact maintenance


@query
def q_stream_artifact_index(spark: SparkSession, sf: str) -> DataFrame:
    """Serve a per-doc verification row from the INCREMENTALLY
    maintained artifact stores (4-micro-batch replay): lang,
    distinct-shingle count (MinHash base), md5-SimHash fingerprint,
    the read-time-derived TF-IDF posting count + DECIMAL(38,6)
    weight checksum (df ≤ 50 cap, w = tf·N/df — the artifacts.py
    contract), and the winnow sketch size (r12 — the fourth
    maintained family). Document frequency and weights are NOT
    stored — they are corpus-global and change with every append, so
    the store keeps doc-local partials and this reader derives
    (df, w) with one aggregation over the merged postings."""
    from .streaming.artifact_stream import stream_artifact_index

    docs = load_table(spark, sf, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=4)
    # N = corpus size, from the store itself (base_n has one row per
    # doc — with_shingles keeps even empty/short docs)
    n_docs = stores["base_n"].count()
    df_w = Window.partitionBy("term")
    w = (
        stores["tf"]
        .withColumn("df", F.count(F.lit(1)).over(df_w))
        .where(F.col("df") <= 50)
        .select(
            "doc_id",
            (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("w"),
        )
    )
    per_doc = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("w").cast("decimal(38,6)")).cast("double").alias("w_sum"),
    )
    # winnow sketch size per doc (postings are per-doc distinct fps;
    # the count is invariant under the packed-long recode, so DuckDB
    # reproduces it from the string grams)
    n_win = stores["winnow"].groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_winnow")
    )
    return (
        stores["base_n"]
        .join(stores["simhash"], "doc_id")
        .join(per_doc, "doc_id", "left")
        .join(n_win, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.col("_n").cast("int").alias("n_shingles"),
            "simhash32",
            F.coalesce("n_terms", F.lit(0)).cast("long").alias("n_terms"),
            F.coalesce("w_sum", F.lit(0.0)).alias("w_sum"),
            F.coalesce("n_winnow", F.lit(0)).cast("long").alias("n_winnow"),
        )
        .orderBy("doc_id")
    )


def _stream_artifact_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return rf"""
WITH shtoks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS INTEGER)
              ELSE 1 END AS n_shingles
  FROM shtoks),
simtok AS (
  SELECT doc_id, unnest(t) AS t FROM shtoks),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM simtok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fpt AS (SELECT doc_id, {fp} AS simhash32 FROM votes),
wtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
terms AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS term
  FROM wtoks WHERE len(t) >= 3),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 50),
wt AS (
  SELECT doc_id,
         tf * CAST((SELECT n_docs FROM n) AS DOUBLE) / df AS w
  FROM tf JOIN df ON tf.term = df.term),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS w_sum
  FROM wt GROUP BY 1),
wclean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents),
wpos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM wclean),
wpos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM wpos0),
wwins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM wpos),
wfp AS (
  SELECT doc_id, CAST(COUNT(DISTINCT fpv) AS BIGINT) AS n_winnow
  FROM wwins WHERE i <= greatest(n_grams - 7, 1)
  GROUP BY 1)
SELECT s.doc_id, s.lang, s.n_shingles, f.simhash32,
       COALESCE(p.n_terms, 0) AS n_terms,
       COALESCE(p.w_sum, 0.0) AS w_sum,
       COALESCE(wf.n_winnow, 0) AS n_winnow
FROM sh s
JOIN fpt f ON f.doc_id = s.doc_id
LEFT JOIN per_doc p ON p.doc_id = s.doc_id
LEFT JOIN wfp wf ON wf.doc_id = s.doc_id
ORDER BY s.doc_id
"""


Q_STREAM_ARTIFACT_INDEX_SQL = _stream_artifact_oracle()


# ------------------------------------------ schema evolution on read

_LANDING_DIRS: dict[str, str] = {}

EVOLVED_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderpriority string"
)


def evolved_landing_dir(spark: SparkSession, sf: str) -> str:
    """Build (once per process+sf) a two-generation orders landing:

    - gen1 (the early pipeline): EVEN order keys, 32-bit key columns,
      FLOAT prices, NO o_orderpriority column;
    - gen2 (after the schema grew): ODD keys, 64-bit keys, DOUBLE
      prices, the new o_orderpriority column.

    Returns the landing root. int casts are exact at test scale (keys
    < 2^31); the float cast deliberately LOSES precision — that is
    the widened-type read the query verifies (the oracle reproduces
    the same float rounding with CAST(.. AS REAL))."""
    key = f"_landing_{sf.replace('/', '_')}"
    cached = _LANDING_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    orders = load_table(spark, sf, "orders")
    d = scratch_dir("evolved_landing_")
    orders.where(F.expr("o_orderkey % 2 = 0")).selectExpr(
        "CAST(o_orderkey AS INT) AS o_orderkey",
        "CAST(o_custkey AS INT) AS o_custkey",
        "CAST(o_totalprice AS FLOAT) AS o_totalprice",
    ).write.mode("overwrite").parquet(os.path.join(d, "gen1"))
    orders.where(F.expr("o_orderkey % 2 = 1")).selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderpriority",
    ).write.mode("overwrite").parquet(os.path.join(d, "gen2"))
    _LANDING_DIRS[key] = d
    return d


def read_evolved(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-evolution-on-read: scan a multi-generation parquet
    landing through ONE explicit unified schema. Per file, parquet
    upcasts (INT→BIGINT, FLOAT→DOUBLE) and fills columns absent in
    older generations with NULL. Incompatible drift (e.g. a column
    re-typed STRING where the unified schema says numeric) fails the
    scan at action time — pinned by tests/test_wave33.py. At 100 TB
    this is a plain parquet scan: pushdown/pruning behave exactly as
    on a single-generation table."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


@query
def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregate across a two-generation landing read through the
    unified schema: legacy rows (no priority column) fill NULL →
    '0-LEGACY'. The price checksum is SUM(floor(p·100)) in BIGINT —
    float-widened doubles carry long decimal expansions whose
    DECIMAL(38,6) rounding rule differs between engines in the last
    ulp, while floor of the identical IEEE product is exact on both;
    min/max are selections of the widened values themselves, so they
    pin that gen1's float-rounded prices (not re-read originals)
    flowed through the scan."""
    landing = evolved_landing_dir(spark, sf)
    ev = read_evolved(spark, landing, EVOLVED_ORDERS_SCHEMA)
    return (
        ev.groupBy(
            F.coalesce("o_orderpriority", F.lit("0-LEGACY")).alias("priority_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents_floor_sum"
            ),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("priority_class")
    )


Q_SCHEMA_EVOLUTION_SQL = """
WITH unified AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey,
         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
         NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1)
SELECT COALESCE(o_orderpriority, '0-LEGACY') AS priority_class,
       COUNT(*) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_floor_sum,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM unified
GROUP BY 1 ORDER BY 1
"""
