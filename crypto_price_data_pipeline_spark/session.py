"""SparkSession factory.

One place to configure the engine for both local test runs (local[N],
single JVM) and a real cluster. AQE is always on — it provides runtime
shuffle-partition coalescing, skew-join splitting, and broadcast demotion
at 100 TB without per-query tuning. Session timezone is pinned to UTC so
timestamp semantics match the DuckDB correctness oracle and the
reference's UTC-source assumption (SURVEY.md §1.3).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "crypto_price_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale set it ≈ 2-3× total executor cores (AQE coalesces down, so
    over-provisioning is cheap; the default 200 is wrong in both
    directions).
    """
    cpus = default_parallelism()
    resolved_master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # r15 optimization round (guide §6): zstd parquet writes —
        # measured on the sink path at sf0.1: 23% smaller files AND
        # ~25% faster write (min-of-2 1.85 s → 1.32 s, interleaved
        # runs; fewer bytes = fewer I/O round-trips), and at 100 TB
        # smaller-at-similar-read-speed is the standard production
        # choice. Read-side behavior and all query values unchanged
        # (codec is transparent to the oracle contract).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the
        # source layer (io.sources normalizes back to TimestampType).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Unannotated parquet timestamps (timestamp[us], no tz) must read
        # as TimestampType (UTC instant), not TIMESTAMP_NTZ — watermarks
        # and unix_micros require TIMESTAMP, and the session tz is UTC so
        # the values match the DuckDB oracle either way.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # 128 MiB input splits: big enough to amortize task overhead at
        # 100 TB (≈800k tasks), small enough to fit executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Python-worker connect-back can exceed the 15s default on a
        # loaded host (32 workers forking at once); raise it so
        # streaming Python data sources don't flake.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.python.worker.idleTimeoutSeconds", "300")
    )
    if resolved_master.startswith("local"):
        # In local mode the driver JVM IS the executor; the 1 GiB default
        # heap shared by N concurrent tasks means GC pressure and spill,
        # not the engine, dominate timings (r6 bench logged
        # "Total allocation exceeds 95% of heap"). Size it to the host.
        # Only effective at JVM launch — getOrCreate() on a live session
        # ignores it, which is the desired no-op for shared test sessions.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (session uuid, conf key) -> [state before the first open scope (None =
# unset), [(scope token, value), ...] of the scopes still open, oldest first]
_SCOPES: dict[tuple[str, str], list] = {}
_SCOPES_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, **overrides):
    """Set runtime SQL confs for the ``with`` block, then restore each
    key to its state before the block: a key that was set gets its old
    value back, a key that was unset is ``unset()`` (not set to its
    default), so the scope leaves no trace in ``spark.conf.getAll``.
    Pass dotted keys by unpacking, e.g.
    ``scoped_conf(spark, **{"spark.sql.shuffle.partitions": "4"})``.

    The session conf is SHARED by every thread using the session (driver
    threads, a stream's foreachBatch bodies on a session they share):
    while a scope is open, any other query planned on the session sees
    the override too. Callers that cannot accept that need a separate
    session (``spark.newSession()``), which has its own conf. What this
    helper does guarantee under threads: every read-modify-write of the
    conf runs under one module lock, and open scopes on the same
    (session, key) are tracked together — while any is open the key
    holds the value of the newest one, and when the last one closes the
    key returns to its state before the first, in whatever order the
    scopes close. The lock is not held for the body, so a scope opened
    on another thread inside this one (a foreachBatch body inside a
    stream's scope) cannot deadlock."""
    sid = spark._jsparkSession.sessionUUID()
    token = object()
    opened: list[str] = []
    try:
        with _SCOPES_LOCK:
            for key, value in overrides.items():
                entry = _SCOPES.get((sid, key))
                if entry is None:
                    prior = None
                    if spark._jsparkSession.conf().contains(key):
                        prior = spark.conf.get(key)
                    entry = _SCOPES[(sid, key)] = [prior, []]
                entry[1].append((token, value))
                opened.append(key)
                spark.conf.set(key, value)
        yield
    finally:
        with _SCOPES_LOCK:
            for key in opened:
                prior, active = _SCOPES[(sid, key)]
                active[:] = [(t, v) for t, v in active if t is not token]
                if active:
                    spark.conf.set(key, active[-1][1])
                    continue
                del _SCOPES[(sid, key)]
                if prior is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prior)


def per_gateway(fn):
    """Memoize ``fn``, which makes py4j handles (unresolved Columns, JVM
    class handles), per live py4j gateway and argument tuple.

    An unresolved Column names its inputs instead of binding them to a
    plan, so one built once can be reused in every DataFrame; building
    it costs a dozen py4j round trips per function call, which a
    per-trigger stream pays on every batch. The handles live in the JVM
    behind the gateway, so a new gateway (a relaunched JVM) gets fresh
    ones. ``fn``'s arguments must be hashable.
    """
    cached = functools.lru_cache(maxsize=64)(lambda gateway, *args: fn(*args))

    @functools.wraps(fn)
    def wrapper(*args):
        return cached(SparkContext._gateway, *args)

    return wrapper


def scratch_dir(prefix: str) -> str:
    """A new directory from ``tempfile.mkdtemp(prefix=prefix)`` (so under
    ``TMPDIR``), removed with its contents when the interpreter exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def materialize(df, reliable: bool | None = None, eager: bool = True):
    """Eagerly compute ``df`` and return a lineage-truncated handle —
    the engine-wide replacement for bare ``localCheckpoint(eager=True)``
    (use as ``df.transform(materialize)`` so call chains read the same).
    With ``eager=False`` nothing runs now: the first action that reads
    the handle computes it and truncates its lineage then.

    With no checkpoint directory configured (the local bench/test
    default) this IS ``localCheckpoint(eager=True)``: fastest, zero
    I/O, but the pinned blocks are non-reliable — on a real cluster,
    losing an executor loses the blocks AND the truncated lineage, so
    the result is unrecoverable. When the session has a checkpoint dir
    (``sc.setCheckpointDir(hdfs_path)`` — standard practice on a
    cluster), reliable ``checkpoint(eager=True)`` is used instead: the
    result is written to fault-tolerant storage and survives executor
    loss. Callers opt into cluster-grade fault tolerance with one
    session-level setting; no per-call flags for the common case.

    RETENTION COST of the reliable path: Spark does NOT delete
    reliable checkpoint files by default
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is false),
    so every reliable materialize leaves files on the distributed FS
    until the directory is cleaned externally. Sessions that set a
    checkpoint dir should also set that conf to ``true`` (GC-driven
    cleanup), or hot iterative loops pay a DFS write per iteration
    AND accumulate unbounded checkpoint data. For those loops —
    fixpoint iteration where lineage truncation, not fault tolerance,
    is the goal (connected_components, bfs_hops, pagerank, MMR's
    per-step rerank) — pass ``reliable=False`` to force the local
    form regardless of session config: each iteration is recomputable
    from the previous materialized step, so losing non-reliable
    blocks costs one re-run of a loop body, not the job."""
    if reliable is None:
        sc = df.sparkSession.sparkContext
        try:
            reliable = sc.getCheckpointDir() is not None
        except Exception:
            reliable = False
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def scale_out(df):
    """Repartition a heavy-projection input up to defaultParallelism
    when the upstream scan has fewer splits than cores.

    The local testdata corpora are single-parquet-file tables, so a
    scan stage gets ONE input split — a tokenize/explode projection
    downstream of it runs single-threaded on a 32-thread master (the
    artifact store has guarded its builds this way since r10; r12
    promotes the guard here so per-query heavy projections share it).
    The guard only fires when the scan's natural parallelism is below
    the core count, which at 100 TB it never is (a real corpus scan
    has thousands of splits), so production plans keep zero extra
    shuffles while local runs use the whole box. The shuffled payload
    is exactly the raw input a real multi-split scan would have
    distributed anyway."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
