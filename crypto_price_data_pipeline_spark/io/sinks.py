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
The staged write leaves no ``_SUCCESS`` marker (nothing reads one before
the directory is deleted), and its row count rides on it as an
``Observation``. Then the pre-commit checks run: callables registered
with :func:`pre_commit` for the calling context (a ``ContextVar``, so
each thread sees its own). ``run_pipeline`` registers its expectation
gate there, so a batch that fails the gate raises with nothing
promoted: the load fails closed, as the reference's validate-then-load
order does (bpi_crawler.py:214). Only when the checks pass and the
count is above zero are the staged data files renamed into ``path``
(``k=v/`` subdirectories kept under ``partition_by``); the staging
directory is deleted either way. A write of no rows would otherwise
still leave an empty parquet file in the table. A crash between the
renames leaves part of the batch committed and a stale staging
directory that readers skip; the replay's anti-join on the key then
appends only the rows still missing, so exactly-once holds through the
key.

The key set. The anti-join needs the keys already in the table, and
reading them back from every file costs a footer read per file, so a
scan grows with the table, one file per trigger. Instead each (session,
qualified table path, keys) keeps the table's key set as a lazily
checkpointed DataFrame (``session.materialize(eager=False)``), with the
``FileSystem.getContentSummary`` of the table it covers: file count,
directory count and length. A call uses the key set only when the
summary at its start equals the one recorded after this sink's last
commit; otherwise it rebuilds the key set from a scan of the table.
After a commit the key set is extended with the keys of just the
promoted files (union, ``coalesce(1)``, lazy checkpoint), so it is one
partition from then on. Nothing computes it then: the next call's
broadcast of the anti-join does, which adds no Spark job and reads one
trigger's files, not the table.

The recorded summary is the table this sink left: the summary at the
start plus the promoted files, their length and the directories made
for them. It is worked out, not read, since on a local or object-store
file system a content summary lists the whole tree. If another writer's
files landed during the call, the next call's summary differs and it
rescans. Any exception after the staged write, other than a failing
pre-commit check, drops the entry, so the next call rescans too.
Another writer's append, delete or compaction changes the summary; a
rewrite in place to the same file count, directory count and length
would not be seen. Nor would another writer's staged files that move in
when, in the same instant, a directory is made elsewhere in the table:
deleting a staging directory is what changes the summary there. Two
writers appending to one path at once thus get no new guarantee from the
key set, and short of that instant no weaker one than a scan gives: as
before, both may append a key that neither had seen.
"""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import materialize, per_gateway

_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
# (session uuid, qualified table path, keys) -> (key set, the content
# summary of the table it covers)
_KEY_SETS: dict[tuple, tuple[DataFrame, tuple[int, int, int]]] = {}
_KEY_SETS_LOCK = threading.Lock()
_PRE_COMMIT: ContextVar[tuple[Callable[[], object], ...]] = ContextVar(
    "pre_commit_checks", default=()
)


@contextmanager
def pre_commit(check: Callable[[], object]):
    """Run ``check()`` in every ``idempotent_append`` of the ``with``
    block (this thread or task only), after the batch is staged and
    before it is promoted. A check that raises fails that call: its
    staging is deleted and nothing reaches the table."""
    token = _PRE_COMMIT.set((*_PRE_COMMIT.get(), check))
    try:
        yield
    finally:
        _PRE_COMMIT.reset(token)


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


def _summary(fs, path) -> tuple[int, int, int] | None:
    """(file count, directory count, length) of the tree under ``path``,
    from one ``getContentSummary`` call; None when a directory vanished
    during the walk (another writer's staging, deleted meanwhile)."""
    try:
        s = fs.getContentSummary(path)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        return None
    return s.getFileCount(), s.getDirectoryCount(), s.getLength()


def _promote(fs, src, dest) -> tuple[list[str], int]:
    """Rename the data files under ``src`` into ``dest``, keeping the
    directory layout; hidden files stay. Returns the moved files' new
    paths and the number of directories made in ``dest``."""
    moved, made = [], 0
    for st in fs.listStatus(src):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        target = _path_class()(dest, name)
        if st.isDirectory():
            if not fs.exists(target):
                fs.mkdirs(target)
                made += 1
            files, dirs = _promote(fs, st.getPath(), target)
            moved += files
            made += dirs
        elif fs.rename(st.getPath(), target):
            moved.append(target.toString())
        else:
            raise OSError(f"could not move {st.getPath()} to {target}")
    return moved, made


def _read_keys(spark: SparkSession, schema: StructType, *paths: str, base: str | None = None):
    """The ``schema`` columns of the parquet files or tables at ``paths``;
    ``base`` is the table root when ``paths`` are files under
    ``k=v/`` directories."""
    reader = spark.read.schema(schema)
    if base is not None:
        reader = reader.option("basePath", base)
    return reader.parquet(*paths).select(*schema.names)


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

    Left-anti join against the table's key set: kept across calls while
    the table is as this sink left it, else read back from the table
    with the key types of ``df`` (no schema-inference job). This is the
    Spark-idiomatic replacement for the reference's delete-after-load
    bookkeeping (bpi_crawler.py:37-41): retries and replays are safe
    because the second attempt appends zero rows. The batch runs once:
    one staged write, the pre-commit checks, then a rename commit (see
    the module docstring). Returns rows written.

    A table that exists but cannot be read raises; it is never taken
    for an empty one.
    """
    fs, root = _hadoop_path(spark, path)
    memo_key = (spark._jsparkSession.sessionUUID(), root.toString(), tuple(keys))
    existed = fs.exists(root)
    # read before any listing of the table, so a key set built now
    # covers at least what the summary says; a missing table gets the
    # one directory that the staged write makes
    before = _summary(fs, root) if existed else (0, 1, 0)
    with _KEY_SETS_LOCK:
        known = _KEY_SETS.get(memo_key)
    key_schema = df.select(*keys).schema
    if known is not None and known[1] == before:
        key_set = known[0]
    elif existed:
        key_set = materialize(_read_keys(spark, key_schema, root.toString()), eager=False)
    else:
        key_set = None
    fresh = df.dropDuplicates(keys)
    if key_set is not None:
        fresh = fresh.join(key_set, on=keys, how="left_anti")
    obs = Observation()
    fresh = fresh.observe(obs, _row_count())
    writer = fresh.write.mode("append").option(_MARK_SUCCESS, "false")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    staging = _path_class()(root, f"_staging-{uuid.uuid4().hex}")
    n, entry = 0, None  # entry: the key-set memo after this call; None drops it
    try:
        writer.parquet(staging.toString())
        try:
            for check in _PRE_COMMIT.get():
                check()
        except BaseException:
            entry = known  # nothing promoted: the table is as it was
            raise
        n = obs.get["rows"]
        if n:
            entry = _commit(spark, fs, staging, root, key_set, before, key_schema)
        elif key_set is not None and before is not None:
            entry = (key_set, before)
    finally:
        fs.delete(staging, True)
        # a first append of no rows leaves no table behind
        if not existed and fs.exists(root) and not fs.listStatus(root):
            fs.delete(root, False)
        with _KEY_SETS_LOCK:
            if entry is None:
                _KEY_SETS.pop(memo_key, None)
            else:
                _KEY_SETS[memo_key] = entry
    return n


def _commit(spark, fs, staging, root, key_set, before, key_schema):
    """Promote the staged batch into ``root``. Returns the key-set memo
    entry for the table left behind: the key set grown by the promoted
    files' keys, and ``before`` plus the staged files, the directories
    made and their length. None when that sum is unknown."""
    staged = _summary(fs, staging)
    files, made = _promote(fs, staging, root)
    fs.delete(staging, True)
    if before is None or staged[0] != len(files):  # hidden files stayed behind
        return None
    added = _read_keys(spark, key_schema, *files, base=root.toString())
    grown = added if key_set is None else key_set.unionByName(added)
    after = (before[0] + staged[0], before[1] + made, before[2] + staged[2])
    return materialize(grown.coalesce(1), eager=False), after


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
