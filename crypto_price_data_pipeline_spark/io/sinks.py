"""Sinks: parquet append/overwrite, idempotent append, JDBC.

Reference sinks (SURVEY.md §2.1): pandas ``to_sql(if_exists="append")``
to Postgres (S7), Mongo staging insert/update/delete/drop (S5, S6, S8,
S9). The Spark mapping replaces manual delete/drop cleanup with
idempotent writes: a retry never double-appends because the append is
deduplicated against the sink on a business key (the reference instead
races a reader against a collection drop —
dump_with_postgres.py:149-175 — which silently loses rows; we do not
reproduce the race).

A batch that fails ``run_pipeline``'s expectation gate raises inside
the sink's own Spark job (``pipeline.validate``), so the appending sinks
and ``merge_upsert`` load nothing of it. A static overwrite
(``overwrite_parquet``, ``write_orc``, ``write_sorted``'s default)
deletes the table before its job runs.

``idempotent_append`` commits in two steps. The batch is written once,
into a hidden ``<path>/_staging-<uuid>`` directory: Spark's file readers
skip names that start with ``_``, so readers of ``path`` never see it.
The staged write leaves no ``_SUCCESS`` marker (nothing reads one before
the directory is deleted), and its row count rides on it as an
``Observation``. Only when the write succeeds and the count is above
zero are the staged data files renamed into ``path`` (``k=v/``
subdirectories kept under ``partition_by``); the staging directory is
deleted either way. A write of no rows would otherwise still leave an
empty parquet file in the table. A crash between the renames leaves
part of the batch committed and a stale staging directory that readers
skip; the replay's anti-join on the key then appends only the rows
still missing, so exactly-once holds through the key.

The key set. The append must skip the keys already in the table, and
reading them back from every file costs a footer read per file, so a
scan grows with the table, one file per trigger. Instead each (session,
qualified table path, keys) keeps the table's keys in two tiers, with
the ``FileSystem.getContentSummary`` of the table they cover: file
count, directory count and length.

- The base is a lazily checkpointed DataFrame
  (``session.materialize(eager=False)``) that the batch is anti-joined
  against by broadcast: one Spark job per call.
- The delta is a driver-side ``frozenset`` of the keys committed since
  the base was built or last folded, at most ``_DELTA_CAP`` of them. The
  write's own plan checks it as ``isnull(k) OR NOT k IN (...)``, so it
  costs no job. The keys cross to the JVM as one string joined on
  ``\x1f`` and split there into an array, which feeds ``Column.isin``
  (and the fold's rows): a fixed number of py4j calls, where
  ``F.col(k).isin(list)`` sends one per key. No delta key holds
  ``\x1f``; a commit whose keys do folds. A NULL key passes the check,
  as it passes the anti-join.

Each commit learns its keys from the staged write's ``Observation``,
which collects the key's set next to the row count: no file is read
and no job added. The set comes back only for a write of at most
``_DELTA_CAP`` rows (the executors still build it for any batch, one
entry per distinct key, as the write runs); a larger write folds. A
call uses the tiers only when the summary at its start equals the one
recorded after this sink's last commit. Otherwise it reads the table
back: a table of at most ``_DELTA_CAP`` files and keys becomes the
delta, collected with a limit that stops the scan past the cap, and
any other gets a base scanned from it and an empty delta. A first
append to a missing table starts with neither.

The fold. A commit whose keys would take the delta past the cap folds
instead: the base, the delta's keys and the keys of the files it just
promoted are unioned, ``coalesce(1)`` and lazily checkpointed, and the
delta starts empty. The delta's rows are made on the JVM, by exploding
its array over a one-row range (``createDataFrame`` of a Python list
would start a Python worker); the new keys are read from the promoted
files. Nothing computes the fold then: the next call's broadcast does,
reading one trigger's files. A call that scanned a base folds as it
commits, even with no rows, so the base kept is one partition, not a
partition per file split of the scan that each later broadcast would
run as a task. The delta holds one plain string key; any other key
shape gets a cap of 0 and folds on every commit.

Under the cap a call runs two Spark jobs: the ``dropDuplicates``
shuffle's map stage and the staged write. The cap is set by CPU and by
driver memory, with the benchmark's JVM flags (C1, serial GC) at 4
cores and keys of 32 characters. CPU: over a 10-row staged write, a
check of 128, 256, 512 and 1,024 keys cost 10, 20, 40 and 70 ms more,
and the anti-join against a checkpointed base of the same size 30-40
ms more (medians of 15, 10 ms resolution); 256 is the largest that
costs less than the broadcast. Memory: the SQL status store keeps the
plan text of its last 1,000 executions
(``spark.sql.ui.retainedExecutions``), the plan description and the
plan graph's node descriptions, and a write lists each checked key
twice there, five times once a base exists (the optimizer copies the
check onto the base's side of the anti-join). At the cap of 256 a write
kept up to 21 KB of text, 50 KB with a base; 100 writes of 8 new keys
each (three folds) kept 22.5 KB per execution, 22 MB per 1,000, and at
most 50 MB if every kept execution were such a write at the cap.
There is no single whole-table ``IN`` check: at 40k keys it took 0.7 s
to build and 0.45 s to run, and every SQL execution stored a 920 KB
plan description. The cap keeps the plan text and its analysis
bounded.

The recorded summary is the table this sink left: the summary at the
start plus the promoted files, their length and the directories made
for them. It is worked out, not read, since on a local or object-store
file system a content summary lists the whole tree. If another writer's
files landed during the call, the next call's summary differs and it
rescans. An exception keeps the entry as it was at the call's start
when it comes before the first rename, the table being as it was, and
drops it from the first rename on, so the next call rescans.
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

import functools
import threading
import uuid

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..session import materialize, per_gateway

_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
# (session uuid, qualified table path, keys) -> (base key set or None,
# the keys committed since the base was built or folded, the content
# summary of the table both cover)
_KEY_SETS: dict[tuple, tuple[DataFrame | None, frozenset, tuple[int, int, int]]] = {}
# most keys the delta holds before it is folded into the base (module
# docstring: how it was set)
_DELTA_CAP = 256
# joins a delta's keys into one string; no delta key holds it
_SEP = "\x1f"
_KEY_SETS_LOCK = threading.Lock()


@per_gateway
def _path_class():
    """Hadoop's ``Path`` class: looking it up through ``spark._jvm`` is
    one py4j round trip per package segment."""
    return SparkContext._jvm.org.apache.hadoop.fs.Path


@per_gateway
def _observed(key: str | None, cap: int) -> tuple[Column, ...]:
    """The staged write's metrics: its row count and, given a ``key``,
    the set of that column's values it wrote when that is at most
    ``cap`` rows (else null, so no more than ``cap`` keys cross to the
    driver and to Python)."""
    rows = F.count(F.lit(1))
    if key is None:
        return (rows.alias("rows"),)
    return rows.alias("rows"), F.when(rows <= cap, F.collect_set(key)).alias("keys")


@per_gateway
def _key_columns(key: str) -> tuple[Column, Column]:
    return F.col(key), F.isnull(key)


@per_gateway
def _splitter():
    """A JVM ``Pattern`` that splits on ``_SEP``."""
    return SparkContext._jvm.java.util.regex.Pattern.compile(_SEP)


@per_gateway
def _array_seq():
    return SparkContext._jvm.scala.collection.immutable.ArraySeq


def _split(values: frozenset[str]):
    """``values`` as a JVM ``String[]``, in two py4j calls whatever their
    number: they cross as one string joined on ``_SEP``."""
    return _splitter().split(_SEP.join(values), -1)


def _not_in(key: str, values: frozenset[str]) -> Column:
    """``isnull(key) OR NOT key IN (values)``."""
    col, isnull = _key_columns(key)
    return isnull | ~Column(col._jc.isin(_array_seq().unsafeWrapArray(_split(values))))


def _key_rows(spark: SparkSession, key: str, values: frozenset[str]) -> DataFrame:
    """``values`` as a one-column relation, built on the JVM: a one-row
    range exploding their array literal (no Python worker, as
    ``createDataFrame`` of a list would start)."""
    return spark.range(1).select(F.explode(F.lit(_split(values))).alias(key))


def _scanned_keys(scan: DataFrame, key: str, cap: int) -> frozenset[str] | None:
    """The non-NULL ``key`` values of ``scan`` when they are at most
    ``cap`` rows and none holds ``_SEP``, else None. The collect stops
    reading the table once it has ``cap + 1`` rows."""
    rows = scan.where(F.col(key).isNotNull()).limit(cap + 1).collect()
    found = frozenset(r[0] for r in rows)
    return found if len(rows) <= cap and not any(_SEP in k for k in found) else None


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
    """Replace the table at ``path``. This sink cannot fail closed: a
    static overwrite deletes the table before its job runs, so a batch
    that fails inside the job (the expectation gate, say) leaves the
    directory empty."""
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

    Checked against the table's keys: the newest in the write's own
    plan, the rest by a left-anti join, both kept across calls while the
    table is as this sink left it, else read back from the table with
    the key types of ``df`` (no schema-inference job). This is the
    Spark-idiomatic replacement for the reference's delete-after-load
    bookkeeping (bpi_crawler.py:37-41): retries and replays are safe
    because the second attempt appends zero rows. The batch runs once:
    one staged write, then a rename commit (see the module docstring).
    Returns rows written.

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
    # the delta holds one plain string key; any other key shape folds on
    # every commit
    one_string = len(key_schema) == 1 and key_schema[0].dataType == StringType()
    cap = _DELTA_CAP if one_string else 0
    scanned_base = False
    if known is not None and known[2] == before:
        base, delta = known[0], known[1]
    elif existed:
        scan = _read_keys(spark, key_schema, root.toString())
        # a table of at most cap files may hold few enough keys for the
        # delta alone; a larger one, or a larger key set, gets a base
        small = cap and before is not None and before[0] <= cap
        delta = _scanned_keys(scan, keys[0], cap) if small else None
        scanned_base = delta is None
        base = materialize(scan, eager=False) if scanned_base else None
        delta = delta or frozenset()
    else:
        base, delta = None, frozenset()
    fresh = df.dropDuplicates(keys)
    if delta:
        fresh = fresh.where(_not_in(keys[0], delta))
    if base is not None:
        fresh = fresh.join(base, on=keys, how="left_anti")
    obs = Observation()
    # a call that scanned a base folds as it commits: its keys are not needed
    fresh = fresh.observe(obs, *_observed(keys[0] if cap and not scanned_base else None, cap))
    writer = fresh.write.mode("append").option(_MARK_SUCCESS, "false")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    staging = _path_class()(root, f"_staging-{uuid.uuid4().hex}")
    # entry: the key-set memo after this call; None drops it. It stays as
    # at the start until the promote's first rename changes the table.
    n, entry = 0, known
    try:
        writer.parquet(staging.toString())
        metrics = obs.get
        n = metrics["rows"]
        if n:
            written = metrics.get("keys")  # None past the cap
            written = written if written is None else frozenset(written)
            entry = None  # a failure from here on drops the key set
            entry = _commit(spark, fs, staging, root, base, delta, written, before, key_schema, cap)
        elif existed and before is not None:
            # a scanned base is folded into one partition before it is kept
            entry = (_fold(base) if scanned_base else base, delta, before)
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


def _commit(spark, fs, staging, root, base, delta, written, before, key_schema, cap):
    """Promote the staged batch into ``root``. Returns the key-set memo
    entry for the table left behind: ``delta`` grown by the ``written``
    keys while that fits ``cap`` (``written`` is None when they were not
    collected), else ``delta`` and the promoted files' keys folded into
    ``base``; and ``before`` plus the staged files, the directories made
    and their length. None when that sum is unknown."""
    staged = _summary(fs, staging)
    files, made = _promote(fs, staging, root)
    fs.delete(staging, True)
    if before is None or staged[0] != len(files):  # hidden files stayed behind
        return None
    after = (before[0] + staged[0], before[1] + made, before[2] + staged[2])
    if written is not None and len(delta | written) <= cap and not any(_SEP in k for k in written):
        return base, delta | written, after
    added = [_read_keys(spark, key_schema, *files, base=root.toString())]
    if delta:
        added.append(_key_rows(spark, key_schema.names[0], delta))
    return _fold(base, *added), frozenset(), after


def _fold(base: DataFrame | None, *added: DataFrame) -> DataFrame:
    """``base`` and ``added`` as one key relation of one partition,
    lazily checkpointed: the next call's broadcast computes it."""
    parts = [p for p in (base, *added) if p is not None]
    return materialize(functools.reduce(DataFrame.unionByName, parts).coalesce(1), eager=False)


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
    pandas.to_sql append). One partition, so one transaction: Spark's
    JDBC writer commits per partition. Driver jar required; gated by
    caller."""
    writer = df.coalesce(1).write.format("jdbc").mode("append")
    for k, v in {"url": url, "dbtable": table, **(properties or {})}.items():
        writer = writer.option(k, v)
    writer.save()
