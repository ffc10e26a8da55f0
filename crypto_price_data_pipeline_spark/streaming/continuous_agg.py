"""Continuous aggregate (hypertable-rollup pattern, [EXT] §2.9).

The classic time-series-db feature: an hourly rollup table maintained
incrementally as events stream in, plus a reader that serves the
pre-aggregated history UNION the not-yet-rolled-up tail — so dashboards
scan |hours| rows instead of |events|, while still seeing the latest
data.

Spark-first shape:
- maintenance is ``foreachBatch`` over the event stream: each micro
  batch is bucketed into (bucket, key) PARTIALS and written to a
  per-``batch_id`` subdirectory with OVERWRITE. foreachBatch is
  at-least-once — a replayed batch rewrites its own subdir with
  identical content instead of double-merging, so the store is
  exactly-once end-to-end (same pattern as streaming/dedup_stream);
- the reader aggregates the partials (count/sum/min/max are
  decomposable) and unions an on-the-fly aggregation of raw events
  newer than the rollup's high-water mark. At 100 TB the partials are
  date-partitioned and periodically COMPACTED (re-bucketed into one
  settled partial per day) so the merge-on-read stays |hours × keys|,
  and the tail scan is partition-pruned to the last day.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .partial_store import write_batch

BUCKET_AGGS = lambda: [  # noqa: E731 - one grain definition, two call sites
    F.count(F.lit(1)).alias("n"),
    F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    F.min("value").alias("min_value"),
    F.max("value").alias("max_value"),
]


def bucket_events(events: DataFrame, bucket: str = "1 hour") -> DataFrame:
    """Raw events → (bucket_start, event_type) grain aggregates."""
    return (
        events.groupBy(
            F.window("ts", bucket).getField("start").alias("bucket_start"),
            "event_type",
        )
        .agg(*BUCKET_AGGS())
    )


def write_batch_partials(buckets: DataFrame, rollup_dir: str, batch_id: int) -> None:
    """Stage one micro-batch's bucket partials, idempotently: the batch
    OWNS ``batch_<id>/`` and overwrites it, so a foreachBatch replay
    after partial failure rewrites identical rows (no double counting).
    """
    write_batch(buckets, rollup_dir, batch_id)


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame | None:
    """Merge-on-read: aggregate every staged batch partial back to one
    row per (bucket_start, event_type). Partials combine exactly because
    count/sum/min/max are decomposable; sums re-pass through
    decimal(38,6) so the merged double equals a one-shot aggregation.
    Returns None if no partials exist yet."""
    if not os.path.exists(rollup_dir):
        return None
    partials = (
        spark.read.option("recursiveFileLookup", "true").parquet(rollup_dir)
    )
    return (
        partials.groupBy("bucket_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("sum_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def compact_rollup(spark: SparkSession, rollup_dir: str) -> int:
    """Re-bucket every staged per-batch partial into ONE settled
    subdirectory, so merge-on-read cost goes back to |hours × keys|
    instead of growing linearly with batch count (the module docstring's
    promised compaction; read_rollup re-aggregates whatever subdirs
    exist, so a compacted partial is just another — bigger — partial).

    Returns the number of subdirectories folded (0 = nothing to do).

    Run this while the maintenance stream is STOPPED (or schedule it on
    batch ids at or below the last committed checkpoint offset): a
    crashed batch that replays AFTER its partial was folded would
    re-create its subdir and double-count. The settled output keeps the
    partial grain (n/sum/min/max are decomposable), so compaction is
    associative — compacting a mix of raw and previously-compacted
    partials stays exact, sums re-passing through decimal(38,6).

    r13: the staged-and-swap mechanics live in the shared
    ``partial_store.fold_partials``; this caller supplies the settled
    form — a re-aggregation, because rollup partials are decomposable.
    """
    from .partial_store import fold_partials

    return fold_partials(rollup_dir, lambda: read_rollup(spark, rollup_dir))


def start_continuous_rollup(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    schema,
    bucket: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """Maintain the rollup from a file-source event stream.

    Exactly-once: the checkpointed file source replays a failed batch
    with the same rows and the same batch_id; ``write_batch_partials``
    overwrites that batch's own subdir, so recovery after a crash —
    even one that lands AFTER the store write but before the checkpoint
    commit — leaves every bucket counted exactly once (unit-tested by
    killing the query mid-stream and restarting from the checkpoint).

    ``max_files_per_trigger`` caps files per micro-batch (rate limiting
    on backfills; also how tests carve a deterministic batch sequence).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_batch_partials(bucket_events(batch, bucket), rollup_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_with_tail(
    spark: SparkSession,
    rollup_dir: str,
    raw_events: DataFrame,
    bucket: str = "1 hour",
) -> DataFrame:
    """Serve the continuous aggregate: rolled-up history ∪ fresh tail.

    Rows at or beyond the rollup's high-water bucket are aggregated
    from raw on the fly (they may still be mutating); everything older
    comes from the precomputed table. At scale the raw side's filter
    prunes to the newest date partition.

    Staleness caveat (standard for continuous aggregates): raw events
    that land in a bucket OLDER than the high-water mark between two
    maintenance runs are not visible until the next merge — pair the
    maintenance stream with a watermark that matches the source's
    lateness bound if stronger freshness is required."""
    rollup = read_rollup(spark, rollup_dir)
    hwm = None
    if rollup is not None:
        hwm = rollup.agg(F.max("bucket_start")).collect()[0][0]
    tail = raw_events
    if hwm is not None:
        tail = tail.where(F.window("ts", bucket).getField("start") >= F.lit(hwm))
    fresh = bucket_events(tail, bucket)
    if rollup is None:
        return fresh
    settled = rollup.where(F.col("bucket_start") < F.lit(hwm))
    return settled.unionByName(fresh)
