"""Sixth coverage wave (round 3): cross-engine-verifiable SimHash,
date-partitioned staging reads with partition pruning, and ANN recall
reporting.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query
from .session import scratch_dir


# ------------------------------------------------- md5-bit SimHash


@query(oracle=lambda: Q_SIMHASH_MD5_SQL)
def q_simhash_md5_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs on the 32-bit md5-derived SimHash
    (`operators.dedup.simhash_md5_pairs`). Unlike the xxhash64 twin
    (rows-only checked — xxhash64 has no DuckDB equivalent), every stage
    here is engine-portable: md5 token hashes → bit votes → fingerprint
    → Hamming ≤ 3 pairs. Banding with the pigeonhole guarantee
    (4 bands × 8 bits ≥ Hamming 3 + 1) makes the banded result
    deterministically equal the exhaustive pair set, which the oracle
    computes with a plain self-join — so the green row verifies the
    banding mechanics AND the fingerprint values at once. Fingerprints
    come from the per-corpus artifact store (artifacts.simhash32_table);
    bench times the cold build separately."""
    from .artifacts import simhash32_table
    from .operators.dedup import simhash_md5_pairs

    docs = load_table(spark, sf, "documents")
    return (
        simhash_md5_pairs(docs, max_hamming=3, sig=simhash32_table(spark, sf))
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _simhash_md5_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
fp AS (
  SELECT doc_id, {fp} AS sh FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY id_a, id_b
"""


Q_SIMHASH_MD5_SQL = _simhash_md5_oracle()


# ------------------------------------- date-partitioned staging table


def partitioned_staging_dir(spark: SparkSession, sf: str) -> str:
    """Write the events table as a dt=yyyy-MM-dd partitioned staging
    directory (io.sinks.overwrite_parquet partition_by path) and return
    the directory — the layout every 100 TB staging table should have
    so date-ranged readers get partition pruning instead of full scans.
    One dir per (process, sf), built on first use, removed at exit."""
    import os

    key = f"_staging_{sf.replace('/', '_')}"
    cached = _STAGING_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    from .io.sinks import overwrite_parquet

    ev = load_table(spark, sf, "events")
    d = scratch_dir("staging_dt_")
    overwrite_parquet(
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd")),
        d,
        partition_by=["dt"],
    )
    _STAGING_DIRS[key] = d
    return d


_STAGING_DIRS: dict[str, str] = {}


def read_partitioned_staging(spark: SparkSession, sf: str) -> DataFrame:
    """Read the dt-partitioned staging table back. An EMPTY events
    input writes only _SUCCESS (no dt= directories), and a raw
    spark.read.parquet then dies with UNABLE_TO_INFER_SCHEMA —
    synthesize the staged schema (events columns + DATE dt, the type
    partition inference produces) in that case so downstream rollups
    return empty instead of crashing."""
    import glob as _glob
    import os as _os

    d = partitioned_staging_dir(spark, sf)
    if not _glob.glob(_os.path.join(d, "dt=*")):
        ev = load_table(spark, sf, "events")
        return ev.withColumn(
            "dt", F.date_format("ts", "yyyy-MM-dd").cast("date")
        ).limit(0)
    return spark.read.parquet(d)


@query
def q_partitioned_staging(spark: SparkSession, sf: str) -> DataFrame:
    """Date-ranged rollup over the dt-partitioned staging table. The dt
    predicate is a PARTITION filter — the scan plans only the 3 of 30
    date directories (tests/test_plans.py asserts PartitionFilters and
    an empty data-filter set) — the access pattern that turns a 100 TB
    staging scan into a 10 TB one. The oracle computes the same rollup
    from the raw events table, proving the partitioned round-trip
    loses nothing."""
    staged = read_partitioned_staging(spark, sf)
    # partition-type inference reads the dt dirs back as DATE; cast to
    # string for the cross-engine compare
    return (
        staged.where((F.col("dt") >= "2024-01-10") & (F.col("dt") <= "2024-01-12"))
        .groupBy(F.col("dt").cast("string").alias("dt"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("dt", "event_type")
    )


Q_PARTITIONED_STAGING_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------- chunked series fold


@query
def q_ema_chunked(spark: SparkSession, sf: str) -> DataFrame:
    """EMA per user via the bounded-memory chunked fold
    (`operators.series.ema_by_key_chunked`, chunk_size forced below the
    per-user series length so multiple chunks actually compose). The
    oracle folds serially — agreement at 4 decimals verifies the
    affine chunk composition against the serial recurrence (they
    differ only by fp reassociation, ~1e-12 relative; rounding
    tolerance chosen so a boundary flip is ~1e-8 improbable per
    value)."""
    from .operators.series import ema_by_key_chunked

    ev = load_table(spark, sf, "events")
    out = ema_by_key_chunked(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.25, chunk_size=16
    )
    return out.select(
        "user_id",
        F.col("n_ticks").cast("int").alias("n_ticks"),
        F.round("ema", 4).alias("ema_r4"),
    ).orderBy("user_id")


Q_EMA_CHUNKED_SQL = """
WITH ordered AS (
  SELECT user_id, ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INTEGER) AS n_ticks,
       ROUND(list_reduce(vals, (acc, x) -> x * 0.25 + acc * 0.75), 4) AS ema_r4
FROM ordered ORDER BY user_id
"""


# ---------------------------------------------------- unpivot / melt


@query
def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshaping (`DataFrame.unpivot`, the inverse of
    q_pivot): per-flag measure columns melt into (flag, measure, value)
    rows — the Expand-based plan that keeps reshaping one pass with no
    join or union of scans. Oracle is the portable UNION ALL form."""
    li = load_table(spark, sf, "lineitem")
    dec_sum = lambda c: F.sum(F.col(c).cast("decimal(38,6)")).cast("double")  # noqa: E731
    wide = li.groupBy("l_returnflag").agg(
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_price"),
        dec_sum("l_discount").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


Q_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
ORDER BY l_returnflag, measure
"""


# -------------------------------------------------- UDTF (LATERAL)


@query
def q_udtf_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF surface, driver-verified: a LATERAL table function
    chunks each document into 32-token pieces and emits
    (chunk_idx, chunk_tokens, chunk_md5) rows; the oracle rebuilds the
    identical rows with DuckDB list ops. Complements the pure-DataFrame
    chunker (q_chunk_dedup) the way the pandas as-of path complements
    the window one — the UDTF is the escape hatch for genuinely
    imperative per-row expansion, and this row proves that surface
    produces bit-identical results, not just 'some rows'. Python
    row-at-a-time: use the HOF chunker in hot paths."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, chunk_tokens: int, chunk_md5: string")
    class ChunkDoc:
        def eval(self, text):
            import hashlib
            import re

            toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
            for i in range(0, len(toks), 32):
                chunk = toks[i : i + 32]
                yield (
                    i // 32,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_doc", ChunkDoc)
    docs = load_table(spark, sf, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    try:
        return spark.sql(
            """
            SELECT d.doc_id, t.chunk_idx, t.chunk_tokens, t.chunk_md5
            FROM _udtf_docs d, LATERAL chunk_doc(d.text) t
            ORDER BY d.doc_id, t.chunk_idx
            """
        )
    finally:
        spark.catalog.dropTempView("_udtf_docs")


Q_UDTF_CHUNKS_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(len(t[i*32+1 : i*32+32]) AS INT) AS chunk_tokens,
       md5(array_to_string(t[i*32+1 : i*32+32], ' ')) AS chunk_md5
FROM toked, LATERAL (
  SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
) ix
WHERE len(t) > 0
ORDER BY doc_id, chunk_idx
"""


# ------------------------------------------- test-set contamination


def _grams5(tok_col):
    """Distinct 5-grams of a token array, or the whole doc as one gram
    when it has fewer than 5 tokens: the contamination rule shared by
    q_contamination, q_bloom_contamination, q_contamination_prefiltered
    and q_stream_contamination."""
    return F.when(
        F.size(tok_col) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tok_col) - 4),
                lambda i: F.array_join(F.slice(tok_col, i, 5), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(tok_col, " ")))


@query
def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan: for every eval-set document, the
    training document with the highest 5-gram containment
    (|shared eval 5-grams| / |eval 5-grams|) — the pre-training hygiene
    check that catches test data leaked into the corpus.

    The synthetic corpus has no real leakage, so contamination is
    PLANTED deterministically (the q_pii_scrub pattern): docs with
    doc_id % 97 == 0 form the eval set, and each takes the first ~30
    tokens of training doc doc_id+1 — the oracle replants identically,
    so the expected answer is (eval, doc_id+1, containment 1.0) and
    the check is non-vacuous end to end.

    Scale shape: the eval side is the small side by construction —
    its exploded distinct grams broadcast to the training-gram explode
    (shuffle ∝ matching grams only, never the corpus); the final
    argmax is one hash aggregate + per-eval top-1 window. String
    5-grams (not xxhash64) keep it engine-portable."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")

    tokenized = docs.select("doc_id", toks.alias("_t"))
    train = tokenized.where(F.col("doc_id") % 97 != 0)
    # plant: eval text = first 30 tokens of training doc (doc_id + 1)
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )

    e_grams = evals.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(_grams5(F.col("_t"))).alias("gram"),
        F.size(_grams5(F.col("_t"))).alias("n_eval_grams"),
    )
    t_grams = train.select(
        F.col("doc_id").alias("train_id"), F.explode(_grams5(F.col("_t"))).alias("gram")
    )
    shared = (
        t_grams.join(F.broadcast(e_grams), "gram")
        .groupBy("eval_id", "train_id", "n_eval_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("eval_id").orderBy(
        (F.col("n_shared") / F.col("n_eval_grams")).desc(), F.col("train_id").asc()
    )
    return (
        shared.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "eval_id",
            "train_id",
            F.round(F.col("n_shared") / F.col("n_eval_grams"), 6).alias("containment"),
        )
        .orderBy("eval_id")
    )


Q_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
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
train AS (SELECT doc_id AS train_id, g FROM grams WHERE doc_id % 97 <> 0),
donor AS (
  SELECT doc_id - 1 AS doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(list_slice(t, 1, 30)) - 3, 1)),
                     i -> array_to_string(list_slice(t, 1, 30)[i:i+4], ' ')))
              ELSE [array_to_string(list_slice(t, 1, 30), ' ')] END AS g
  FROM toks
),
evals AS (
  SELECT d.doc_id AS eval_id, d.g
  FROM donor d JOIN grams orig ON orig.doc_id = d.doc_id
  WHERE d.doc_id % 97 = 0
),
e_expl AS (SELECT eval_id, len(g) AS n_eval_grams, unnest(g) AS gram FROM evals),
t_expl AS (SELECT train_id, unnest(g) AS gram FROM train),
shared AS (
  SELECT eval_id, train_id, n_eval_grams, COUNT(*) AS n_shared
  FROM e_expl JOIN t_expl USING (gram)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT eval_id, train_id,
         ROUND(CAST(n_shared AS DOUBLE) / n_eval_grams, 6) AS containment,
         ROW_NUMBER() OVER (PARTITION BY eval_id
                            ORDER BY CAST(n_shared AS DOUBLE) / n_eval_grams DESC,
                                     train_id ASC) AS rn
  FROM shared
)
SELECT eval_id, train_id, containment FROM ranked WHERE rn = 1 ORDER BY eval_id
"""


# ------------------------------------------------- exact percentiles


@query
def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90 / p99) of the
    extended price per return flag — the `percentile` aggregate (exact,
    sort-based) rather than `percentile_approx`, because the oracle
    needs a deterministic value. Both engines use the same linear
    interpolation (R-7); results compare at 6 decimals. At 100 TB
    prefer approx_percentile (one-pass sketch, no per-group sort
    buffer) wherever a ±ε answer is acceptable."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q_PERCENTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------- CSV round-trip


@query
def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source/sink coverage: events → CSV (header, explicitly
    formatted timestamps — never writer-default tz rendering) → read
    back with a declared schema (schema-on-read, no inference job) →
    hourly rollup. The oracle aggregates the raw events table, so the
    round-trip is proven lossless for string/timestamp/double columns.
    At scale, CSV is an ingest format only — the first job should land
    it as partitioned parquet (q_partitioned_staging's layout)."""
    d = _CSV_DIRS.get(sf)
    if d is None:
        d = scratch_dir("events_csv_")
        ev = load_table(spark, sf, "events")
        (
            ev.select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .option("header", True)
            .csv(d)
        )
        _CSV_DIRS[sf] = d
    back = (
        spark.read.schema("event_id long, ts_s string, event_type string, value double")
        .option("header", True)
        .csv(d)
        .select(
            "event_id",
            F.to_timestamp("ts_s", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
            "value",
        )
    )
    return (
        back.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


_CSV_DIRS: dict[str, str] = {}


Q_CSV_ROUNDTRIP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""
