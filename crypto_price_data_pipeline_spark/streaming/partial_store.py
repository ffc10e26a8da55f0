"""The per-batch_id partial store: one stager, one stream runner and
one replay contract for every streamed twin in the registry.

A twin is a batch query split as ``partial`` / ``merge`` / ``finish``:
``partial(rows)`` is a deterministic summary of any subset of the rows,
``merge(stored)`` folds a union of partials into the partial of their
union, and the batch query is ``finish(partial(all rows))``. The
streamed twin is ``finish(merge(stream_partials(...)))``, so batch and
stream agree by construction.

:func:`stream_partials` owns the stream around that split:

- it writes the source frame as 3 single-file parquet chunks (one per
  value of the caller's ``chunk`` Column) under ``<scratch>/src``
  (:func:`stage_chunks`);
- :func:`run_partial_stream` replays them one file per micro-batch
  (``maxFilesPerTrigger=1``, ``availableNow``, checkpoint under
  ``<scratch>/ckpt``);
- the ``foreachBatch`` sink lands ``partial(batch)`` under
  ``<scratch>/store[/<name>]/batch_<id>`` with OVERWRITE
  (:func:`write_batch`), so a replayed batch rewrites identical content
  — exactly-once without a transactional sink;
- it returns the stored partials read with ``partial(frame).schema``
  (:func:`read_store`): no inference job, and no schema string that
  can drift from what the sink wrote.

The incremental stores (``dedup_stream``, ``semantic_stream``,
``ann_stream``, ``artifact_stream``) keep state across batches, so they
run the same stager and runner with their own ``foreachBatch`` body:
they stage ``n_chunks`` contiguous id ranges (:func:`id_chunks`) so
batches arrive in id order, and write each store with
:func:`write_batch`, read it with :func:`read_store`. A replayed batch
may find its own earlier writes in a store it reads; each body says
why its output is still the same.

The parameterized crash/restart test (``tests/test_stream_restart.py``)
walks that ``src`` / ``ckpt`` / store layout: it injects a crash AFTER
a batch's store write but BEFORE its checkpoint commit — the worst
replay window — through the ``_test_hook`` seam below, restarts from
the checkpoint, and asserts the store is row-identical to an
uninterrupted run, for every stream that routes through here.

Reference parity: the reference's crawler appends one row per poll with
no replay story (`bpi_crawler.py:43-214`); the per-batch_id overwrite
store is the [EXT] exactly-once generalization documented in
SCALING.md.

The hook is intentionally process-local and test-only: production
callers never touch ``_test_hook``.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import scratch_dir

# the replayed source is this many single-file chunks, one per batch
N_CHUNKS = 3

Sink = Callable[["DataFrame", int], None]  # noqa: F821 - doc alias

# test seam (see module docstring). When set, a dict with:
#   crash_after: int  - raise after this many successful sink calls
#   runs: list        - every run_partial_stream call appends its
#                       (src, schema, sink, ckpt) so a test can resume
#                       the exact crashed stream with the real sink.
_test_hook: dict | None = None


class _InjectedCrash(RuntimeError):
    pass


def fold_partials(dir_path: str, merged_fn: Callable[[], "DataFrame"]) -> int:
    """Shared staged-and-swap compaction for per-batch_id partial
    stores (r13 — one definition; compact_rollup and
    compact_artifact_store both call this): list the ``batch_*`` /
    ``compacted_*`` subdirs, materialize ``merged_fn()`` (the caller's
    settled form — a re-aggregation for decomposable rollup partials,
    a pure union rewrite for disjoint row partials) into a staging dir
    OUTSIDE ``dir_path`` so a recursive scan can never see its own
    output, then swap: remove the folded subdirs and rename the stage
    to ``compacted_0000000000``. Returns the number of subdirs folded
    (0 = nothing to do). The settled subdir is just another — bigger —
    partial, so compaction is associative and a second compact is a
    no-op. Crash contract (callers' docstrings): run while the
    maintenance stream is stopped, or fold only batch ids at or below
    the last committed checkpoint offset — a crashed batch replaying
    AFTER its partial was folded would re-create its subdir and
    double-count."""
    import shutil

    if not os.path.isdir(dir_path):
        return 0
    subdirs = [
        d
        for d in sorted(os.listdir(dir_path))
        if os.path.isdir(os.path.join(dir_path, d))
        and d.startswith(("batch_", "compacted_"))
    ]
    if len(subdirs) <= 1:
        return 0
    tmp = dir_path.rstrip("/") + ".compacting"
    merged_fn().write.mode("overwrite").parquet(tmp)
    for d in subdirs:
        shutil.rmtree(os.path.join(dir_path, d), ignore_errors=True)
    os.rename(tmp, os.path.join(dir_path, "compacted_0000000000"))
    return len(subdirs)


def day_chunk_expr():
    """Chunk id in [0, 3) from an event's day-of-month, used to split
    the events table into the replayed micro-batch files. Clamped with
    least(): a naive ``(dayofmonth-1) div 10`` maps day 31 to chunk 3,
    which ``range(3)`` never writes — rows born on the 31st would be
    silently absent from the stream while present in the batch oracle.
    """
    return F.expr(f"least(cast((dayofmonth(ts) - 1) div 10 as int), {N_CHUNKS - 1})")


def id_chunks(frame: "DataFrame", id_col: str, n: int) -> tuple["Column", int]:
    """``(chunk, n)`` for :func:`stage_chunks`: ``n`` contiguous ranges
    of ``id_col``, cut from one min/max aggregate (the only row
    collected). Chunk ``i`` holds ``cut(i) <= id < cut(i + 1)`` with
    ``cut(i) = lo + (hi - lo + 1) * i // n``; a null id is in no chunk.
    An empty frame has no chunks (``n`` is 0)."""
    lo, hi = frame.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        return F.lit(0), 0
    ident = F.col(id_col)
    chunk = F.when(ident.isNotNull(), 0)
    for i in range(1, n):
        chunk = chunk + (ident >= lo + (hi - lo + 1) * i // n).cast("int")
    return chunk, n


def stage_chunks(frame: "DataFrame", chunk: "Column", n: int, src: str) -> None:
    """Write ``frame`` under ``src`` as ``n`` single-file parquet chunks,
    ``chunk_<i>`` holding the rows where ``chunk == i``, with strictly
    increasing mtimes: FileStreamSource hands new files over in mtime
    order, so with one file per trigger batch ``i`` is chunk ``i``.
    ``src`` exists afterwards even when ``n`` is 0, and a stream over it
    then drains without a batch."""
    os.makedirs(src, exist_ok=True)
    base = time.time()
    for i in range(n):
        d = os.path.join(src, f"chunk_{i:05d}")
        frame.where(chunk == i).coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for name in files:
                os.utime(os.path.join(root, name), (base + i, base + i))


def write_batch(df: "DataFrame", store: str, batch_id: int) -> None:
    """Idempotent per-batch store write: each micro-batch owns the
    subdirectory ``batch_<id>`` and OVERWRITES it. foreachBatch replays
    a batch_id after partial failure; an append here would duplicate
    store rows — overwrite makes the replay rewrite identical content
    instead. Readers use :func:`read_store`, so the subdirs read as one
    table without partition inference."""
    df.write.mode("overwrite").parquet(os.path.join(store, f"batch_{batch_id:010d}"))


def read_store(spark: SparkSession, schema, store: str) -> "DataFrame":
    """The union of every ``batch_<id>`` subdirectory under ``store``,
    read with ``schema`` (no inference job), or with the schema of the
    parquet footers when ``schema`` is None. Given a schema, a store
    that no batch has written yet reads as an empty frame of it."""
    reader = spark.read.option("recursiveFileLookup", "true")
    if schema is None:
        return reader.parquet(store)
    reader = reader.schema(schema)
    return reader.parquet(store) if os.path.isdir(store) else reader.parquet()


def stream_partials(
    spark: SparkSession,
    frame: "DataFrame",
    chunk: "Column",
    partial: Callable,
    prefix: str,
    *,
    infer_schema: bool = False,
):
    """Replay ``frame`` as a 3-file stream and return the stored
    per-batch partials (see the module docstring for the contract).

    ``frame`` is written as ``N_CHUNKS`` single-file parquet chunks,
    chunk ``c`` holding the rows where ``chunk == c`` (every row must
    land in exactly one chunk). Each micro-batch lands
    ``partial(batch)`` — a DataFrame, or a dict of named DataFrames for
    a twin with several stores — under ``store[/name]/batch_<id>``. The
    return value mirrors ``partial``: the union of the stored batches,
    read with ``partial(frame).schema``. ``infer_schema=True`` reads the
    parquet footers instead, for partials whose column metadata is a
    check on what was written (the KMV sketch stamp)."""
    work = scratch_dir(prefix)
    src, store = os.path.join(work, "src"), os.path.join(work, "store")
    stage_chunks(frame, chunk, N_CHUNKS, src)

    def named(out) -> dict:
        return out if isinstance(out, dict) else {"": out}

    def sink(batch, batch_id: int) -> None:
        for name, df in named(partial(batch)).items():
            write_batch(df, os.path.join(store, name), batch_id)

    run_partial_stream(
        spark, src=src, schema=frame.schema, sink=sink, ckpt=os.path.join(work, "ckpt")
    )
    whole = partial(frame)
    stored = {
        name: read_store(spark, None if infer_schema else df.schema, os.path.join(store, name))
        for name, df in named(whole).items()
    }
    return stored if isinstance(whole, dict) else stored[""]


def merge_sums(stored: "DataFrame", *keys: str) -> "DataFrame":
    """The ``merge`` of additive partials: per ``keys`` group (one row
    when there are none), the sum of every other column."""
    return stored.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in stored.columns if c not in keys]
    )


def run_partial_stream(
    spark: SparkSession,
    *,
    src: str,
    schema: StructType,
    sink: Sink,
    ckpt: str,
) -> None:
    """Replay the chunked parquet source one file per micro-batch
    through ``sink`` with availableNow + checkpoint semantics; blocks
    until the stream drains. ``sink`` must be deterministic per batch
    content and write with per-batch_id OVERWRITE (the replay
    contract above)."""
    effective = sink
    if _test_hook is not None:
        _test_hook.setdefault("runs", []).append(
            {"src": src, "schema": schema, "sink": sink, "ckpt": ckpt}
        )
        crash_after = _test_hook.get("crash_after")
        if crash_after is not None:
            done: list[int] = []

            def effective(batch, batch_id, _sink=sink, _done=done):  # noqa: F811
                _sink(batch, batch_id)
                _done.append(batch_id)
                if len(_done) >= crash_after:
                    raise _InjectedCrash(
                        f"injected crash after store write of batch {batch_id}"
                    )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(effective)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
