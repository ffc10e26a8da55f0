"""Sinks: parquet append/overwrite, idempotent append, JDBC.

Reference sinks (SURVEY.md §2.1): pandas ``to_sql(if_exists="append")``
to Postgres (S7), Mongo staging insert/update/delete/drop (S5, S6, S8,
S9). The Spark mapping replaces manual delete/drop cleanup with
idempotent writes: a retry never double-appends because the append is
deduplicated against the sink on a business key (the reference instead
races a reader against a collection drop —
dump_with_postgres.py:149-175 — which silently loses rows; we do not
reproduce the race).

``idempotent_append`` commits in two steps. The batch is written once,
into a hidden ``<path>/_staging-<uuid>`` directory: Spark's file readers
skip names that start with ``_``, so readers of ``path`` never see it.
Its row count rides on that write as an ``Observation``. Only when the
count is above zero are the staged data files renamed into ``path``
(``k=v/`` subdirectories kept under ``partition_by``); the staging
directory is deleted either way. A write of no rows would otherwise
still leave an empty parquet file in the table. A crash between the
renames leaves part of the batch committed and a stale staging
directory that readers skip; the replay's anti-join on the key then
appends only the rows still missing, so exactly-once holds through the
key.
"""

from __future__ import annotations

import uuid

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import materialize, per_gateway


@per_gateway
def _path_class():
    """Hadoop's ``Path`` class: looking it up through ``spark._jvm`` is
    one py4j round trip per package segment."""
    return SparkContext._jvm.org.apache.hadoop.fs.Path


@per_gateway
def _row_count() -> Column:
    return F.count(F.lit(1)).alias("rows")


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) of ``path`` under the session's
    Hadoop configuration."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    p = _path_class()(path)
    fs = p.getFileSystem(conf)
    return fs, fs.makeQualified(p)


def _promote(fs, src, dest) -> None:
    """Rename the data files under ``src`` into ``dest``, keeping the
    directory layout; markers (``_SUCCESS``) and hidden files stay."""
    for st in fs.listStatus(src):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        target = _path_class()(dest, name)
        if st.isDirectory():
            fs.mkdirs(target)
            _promote(fs, st.getPath(), target)
        elif not fs.rename(st.getPath(), target):
            raise OSError(f"could not move {st.getPath()} to {target}")


def append_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Plain append. At 100 TB, always pass partition_by (e.g. a date
    column) so readers get partition pruning."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> int:
    """Append only rows whose ``keys`` are not already in the sink.

    Left-anti join against the existing table's key columns, read with
    their types from ``df`` (no schema-inference job). This is the
    Spark-idiomatic replacement for the reference's delete-after-load
    bookkeeping (bpi_crawler.py:37-41): retries and replays are safe
    because the second attempt appends zero rows. The batch runs once:
    one staged write, then a rename commit (see the module docstring).
    Returns rows written.

    A table that exists but cannot be read raises; it is never taken
    for an empty one.
    """
    fs, root = _hadoop_path(spark, path)
    existed = fs.exists(root)
    fresh = df.dropDuplicates(keys)
    if existed:
        existing = spark.read.schema(df.select(*keys).schema).parquet(path)
        fresh = fresh.join(existing, on=keys, how="left_anti")
    obs = Observation()
    fresh = fresh.observe(obs, _row_count())
    staging = _path_class()(root, f"_staging-{uuid.uuid4().hex}")
    n = 0
    try:
        append_parquet(fresh, staging.toString(), partition_by)
        n = obs.get["rows"]
        if n:
            _promote(fs, staging, root)
    finally:
        fs.delete(staging, True)
        # a first append of no rows leaves no table behind
        if not existed and fs.exists(root) and not fs.listStatus(root):
            fs.delete(root, False)
    return n


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> int:
    """MERGE/upsert emulation on plain parquet (no Delta in this env):
    new rows replace existing rows with the same ``keys`` (the batch
    equivalent of the reference's ``update_one $set`` staging mutation,
    SURVEY.md §2.1 S6). anti-join(existing, batch) ∪ batch → overwrite.

    At warehouse scale use a transactional format (Delta/Iceberg
    MERGE INTO); this emulation rewrites the table, so reserve it for
    dimension-sized data — fact tables should use idempotent_append.
    Returns the resulting row count.
    """
    batch = df.dropDuplicates(keys)
    fs, root = _hadoop_path(spark, path)
    if fs.exists(root):
        # a read error raises: overwriting with the batch alone would
        # drop every existing row
        existing = spark.read.parquet(path)
        keep = existing.join(batch.select(*keys), on=keys, how="left_anti")
        merged = keep.unionByName(batch)
    else:
        merged = batch
    # localCheckpoint truncates lineage so overwriting the path we just
    # read from cannot re-trigger a scan of the overwritten files
    merged = merged.transform(materialize)
    n = merged.count()
    overwrite_parquet(merged, path, partition_by)
    return n


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write with rows sorted *within each file* on ``sort_cols``.

    Sorting clusters values so parquet row-group min/max statistics
    become selective — point/range predicates on the sort columns skip
    whole row groups at scan time (the poor man's Z-order; at 100 TB
    this is the difference between reading 1 row group and reading the
    table). sortWithinPartitions is a local sort: no extra shuffle."""
    writer = df.sortWithinPartitions(*sort_cols).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table into files of
    ~``target_file_bytes``. Streaming appends and fine-grained idempotent
    writes accumulate small files; at scale the scan's task-per-file
    overhead dominates. Returns the resulting file count.

    Sizing uses the table's on-disk bytes (parquet-compressed) so the
    output files land near the target without sampling."""
    import glob
    import os

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = max(1, round(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    compacted = df.repartition(n_files)
    if sort_cols:
        compacted = compacted.sortWithinPartitions(*sort_cols)
    # break lineage before overwriting the source path
    compacted = compacted.transform(materialize)
    compacted.write.mode("overwrite").parquet(path)
    return n_files


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (overwrite) — interchange with Hive/Trino-flavored
    lakes; same partition-layout contract as the parquet sinks."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """Literal-parity warehouse sink (reference: bpi_crawler.py:173
    pandas.to_sql append). Driver jar required; gated by caller."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode("append")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
