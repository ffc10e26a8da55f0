"""Sources: parquet star schema, JSON payload ingestion, JDBC.

The reference's sources are two HTTP JSON endpoints plus a MongoDB
staging store (SURVEY.md §2.1 S1-S4). Here:

- the star-schema/testdata tables are plain parquet scans — Catalyst
  pushes filters and prunes columns down to the footer level;
- raw BPI payloads enter as JSON text parsed with an explicit schema
  (never schema inference in production paths);
- the staging store disappears into DataFrame lineage in-job, or an
  append parquet table across jobs (see sinks.idempotent_append).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain `spark.read.parquet` so predicate
    pushdown / column pruning stay available to every downstream query.

    events.ts is TIMESTAMP(NANOS) in the parquet footer; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long of
    nanoseconds — normalize to micro-precision TimestampType (truncating
    like DuckDB does) so downstream operators see one timestamp type.

    The conf is set here (runtime SQL conf, idempotent) rather than only
    in the session factory so the read also works under an externally
    provided SparkSession (e.g. the driver's harness).

    HOST-APPLICATION CAVEAT (intentional, by the oracle contract): the
    three ``spark.conf.set`` calls below mutate SESSION-WIDE state —
    after the first ``load_table`` on an externally built session,
    UNRELATED reads/queries in that session also see UTC session time,
    no NTZ inference, and nanos-as-long parquet reads. Embedders who
    need different timestamp semantics for their own tables should use
    a separate SparkSession (or save/restore these three confs around
    load_table); this engine's own queries all assume the UTC contract.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Testdata regenerated with plain timestamp[us] (isAdjustedToUTC=false)
    # reads as TIMESTAMP_NTZ under Spark 4's default inference, which
    # breaks watermarks (`withWatermark` requires TIMESTAMP) and
    # `unix_micros`. Disable NTZ inference so unannotated parquet
    # timestamps surface as TimestampType (UTC instants — the session tz
    # is pinned to UTC, so values match the DuckDB oracle's naive reads).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Timestamp VALUES (collect, date_format, casts) depend on the
    # session tz; the whole oracle contract assumes UTC. Runtime-set it
    # here too so an externally built session (driver harness) in any
    # host timezone still produces oracle-identical values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer `div`, not `/` — float division loses microseconds on
        # int64 nanos (> 2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Defensive: if NTZ still leaked through (externally built session
    # overriding the conf between reads), cast top-level NTZ columns to
    # TimestampType so every downstream operator sees one timestamp type.
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV source with an explicit schema (inference is a full extra
    pass over the data — never in production paths). PERMISSIVE mode +
    ``_corrupt_record`` column so bad rows are quarantined by the
    expectation gate instead of failing the job mid-scan."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json_lines(spark: SparkSession, path: str, schema) -> DataFrame:
    """Newline-delimited JSON with declared schema — the lakehouse
    landing-zone format for API payload drops. PERMISSIVE, so malformed
    documents surface as nulls for the validation gate."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def read_text_corpus(spark: SparkSession, path: str, whole_file: bool = False) -> DataFrame:
    """Raw text source for document pipelines: one row per line, or one
    row per file (``wholetext`` — the shape for per-document dedup /
    quality scoring over a crawl dump). NB the ``wholetext`` flag only
    takes effect as the reader kwarg, not via ``.option()``."""
    return spark.read.text(path, wholetext=whole_file)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built into Spark) — same pushdown/pruning properties
    as parquet; the interchange format when the upstream lake is
    Hive/Trino-flavored."""
    return spark.read.orc(path)


def jdbc_read(spark: SparkSession, url: str, table: str, properties: dict | None = None) -> DataFrame:
    """JDBC source (warehouse read-back). Needs the driver jar on the
    classpath; at scale add partitionColumn/lowerBound/upperBound/
    numPartitions options for a parallel scan."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
