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


# load_table's memos; a race between threads only repeats idempotent
# work. Session UUIDs whose conf load_table has set:
_CONF_SESSIONS: set[str] = set()
# absolute table path -> (data-file stamp, schema inferred from it)
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _file_stamp(path: str) -> tuple | None:
    """(path, size, mtime_ns) of every data file of a local parquet
    table, a single file or a directory; ``None`` for a path this
    process cannot stat. Names starting with ``_`` or ``.`` are skipped,
    as Spark skips them (``_SUCCESS``, ``.crc`` files)."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            files += [os.path.join(root, f) for f in sorted(names)
                      if not f.startswith(("_", "."))]
    else:
        return None
    stats = [os.stat(f) for f in files]
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in zip(files, stats))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain `spark.read.parquet` so predicate
    pushdown / column pruning stay available to every downstream query.

    Schema memo: a parquet read with no schema infers one from the
    footers, and that inference is a Spark job of its own (about
    80-100 ms of CPU at 4 cores against 10-20 ms for a read with the
    schema given). The first read of a table infers; its schema is kept
    per absolute path together with the size and ``mtime_ns`` of each
    data file, and a later read whose files are unchanged passes it to
    ``spark.read.schema``. A table rewritten in place changes those
    stamps, so it is inferred again. Paths this process cannot stat
    (a remote filesystem) are inferred on every read.

    events.ts is TIMESTAMP(NANOS) in the parquet footer; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long of
    nanoseconds — normalize to micro-precision TimestampType (truncating
    like DuckDB does) so downstream operators see one timestamp type.

    The confs are set here (runtime SQL conf) rather than only in the
    session factory so the read also works under an externally provided
    SparkSession (e.g. an embedding harness). They are set once per live
    session, keyed on its UUID: ``spark.newSession()`` has its own conf
    and gets them on its first ``load_table``.

    HOST-APPLICATION CAVEAT (intentional, by the oracle contract): the
    three ``spark.conf.set`` calls below mutate SESSION-WIDE state —
    after the first ``load_table`` on an externally built session,
    UNRELATED reads/queries in that session also see UTC session time,
    no NTZ inference, and nanos-as-long parquet reads. Embedders who
    need different timestamp semantics for their own tables should use
    a separate SparkSession; this engine's own queries all assume the
    UTC contract, and a session whose caller changes these confs after
    its first ``load_table`` does not get them set again.
    """
    sid = spark._jsparkSession.sessionUUID()
    if sid not in _CONF_SESSIONS:
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
        # here too so an externally built session (embedding harness) in any
        # host timezone still produces oracle-identical values.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _CONF_SESSIONS.add(sid)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key, stamp = os.path.abspath(path), _file_stamp(path)
    known = _SCHEMAS.get(key)
    if known and known[0] == stamp:
        df = spark.read.schema(known[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMAS[key] = (stamp, df.schema)
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
