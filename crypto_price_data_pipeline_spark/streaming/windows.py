"""Streaming window operators (SURVEY.md §2.9 [EXT] rows).

Tumbling/sliding/session windows and streaming dedup over event-time
with watermarks — the Structured Streaming surface the reference's cron
cadence maps onto. File sources stand in for the HTTP poll in tests
(same micro-batch semantics; swap the source for Kafka/custom in prod).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf, scratch_dir


_STREAM_DIRS: dict[str, str] = {}


def _run_to_parquet(df: DataFrame, mode: str = "append") -> str:
    """Run a streaming DataFrame to completion (availableNow) into a
    managed parquet directory and return that directory.

    This is the scale-safe materialization for the batch-facing wrapper
    queries: the sink write is executor-side and distributed, unlike a
    memory sink (driver-resident rows) or a ``collect()`` round-trip —
    at 100× windows×keys the result never funnels through the driver.
    Append mode uses the native parquet file sink; complete mode (not
    supported by file sinks) goes through a ``foreachBatch`` overwrite,
    which for an availableNow replay runs exactly one final batch.
    Directories are removed at interpreter exit, keeping the returned
    DataFrame readable for the caller's lifetime."""
    work = scratch_dir("stream_sink_")
    data, ckpt = os.path.join(work, "data"), os.path.join(work, "ckpt")
    if mode == "append":
        writer = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
        )
    else:
        writer = (
            df.writeStream.outputMode(mode)
            .foreachBatch(
                lambda batch, _id: batch.write.mode("overwrite").parquet(data)
            )
            .option("checkpointLocation", ckpt)
        )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return data


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.types as T

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        # the parquet file source requires a directory; expose the single
        # file through a symlink dir (testdata is read-only). One cached
        # dir per source path, removed at interpreter exit — no leak.
        d = _STREAM_DIRS.get(path)
        if d is None or not os.path.isdir(d):
            d = scratch_dir("events_stream_")
            os.symlink(path, os.path.join(d, "events.parquet"))
            _STREAM_DIRS[path] = d
        src = d
    else:
        src = path
    # nanos-parquet rescue must be set before the schema probe — this
    # session may be externally provided (driver harness), not ours
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(src)
    if isinstance(schema["ts"].dataType, T.LongType):  # TIMESTAMP(NANOS) file
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` given) window aggregation
    with a watermark bounding state. Output: one row per closed
    (window, event_type)."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def tumbling_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the hourly tumbling rollup over the events table as a real
    streaming query (availableNow + complete mode → memory sink), then
    return the final result. Because the file source replays the whole
    table and complete mode emits all windows, the result equals the
    batch hourly aggregation — which the DuckDB oracle checks.

    NOTE: ``spark.sql.shuffle.partitions`` is session-global; it is
    lowered for the duration of the streaming query by
    ``session.scoped_conf`` — don't run concurrent queries on this session inside
    that window."""
    agg = windowed_agg(_events_stream(spark, sf_dir))
    # a streaming agg materializes one state store PER shuffle partition
    # (checkpoint dirs, maintenance threads); size partitions to the
    # state cardinality (~|windows × keys|), not the batch default —
    # at production key counts, raise it with the key space
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "8"}):
        data = _run_to_parquet(agg, mode="complete")
    return spark.read.schema(agg.schema).parquet(data).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
        "min_value",
        "max_value",
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows (dynamic gap closing after ``gap`` of
    inactivity per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stream_stream_interval_join(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition: each
    purchase pairs with the same user's clicks in the preceding
    ``gap``. Watermarks on BOTH sides bound the join state — without
    them the engine would buffer each stream forever; with them click
    state older than (watermark + gap) is evicted. This is the
    Structured Streaming idiom for funnel/attribution joins; at scale
    the state store keys by (user, time-bucket) and the interval
    condition prunes the probe range.

    The watermark is assigned on the SHARED stream before the
    event-type filters split it. Watermark stats only reflect rows
    flowing through the watermark node — filter first and a side whose
    type stops arriving stalls the global watermark (= min over
    nodes) forever, deadlocking outer-row emission.

    ``how="left_outer"`` additionally emits unmatched purchases (null
    click columns) — but only once the watermark passes the purchase's
    join window, which happens one micro-batch later. Single-batch
    replays never emit outer rows; the unit test drives three batches
    via maxFilesPerTrigger to observe them."""
    wm = events.withWatermark("ts", watermark)
    c = wm.where(F.col("event_type") == right_type).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = wm.where(F.col("event_type") == left_type).select(
        "user_id",
        "event_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return p.join(
        c,
        F.expr(
            f"user_id = c_user AND click_ts <= purchase_ts "
            f"AND click_ts >= purchase_ts - INTERVAL {gap}"
        ),
        how,
    ).drop("c_user")


def stream_click_attribution(spark: SparkSession, sf_dir: str, gap: str = "1 hour") -> DataFrame:
    """Run the purchase↔click interval join as a real streaming query
    (availableNow → memory sink), then roll the joined pairs up per
    user in batch. Replaying the whole table through the stream makes
    the result equal the batch interval join, which the DuckDB oracle
    checks.

    NOTE: ``spark.sql.shuffle.partitions`` is session-global; it is
    lowered for the duration of the streaming query by
    ``session.scoped_conf`` — don't run concurrent queries on this session inside
    that window."""
    ev = _events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(ev, gap=gap)
    # stream-stream join state (one store per partition, both sides)
    # dominates wall time at test scale — 2 partitions is 5.7× faster
    # than 8 here (measured sf0.1: 1.5s vs 8.3s). At production key
    # cardinality, scale partitions with |buffered state|, not cores.
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "2"}):
        data = _run_to_parquet(joined, mode="append")
    return (
        spark.read.schema(joined.schema).parquet(data)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("event_id").alias("n_purchases"),
            F.sum(F.col("click_value").cast("decimal(38,6)")).cast("double").alias("click_value_sum"),
        )
        .orderBy("user_id")
    )


def stream_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators in ONE streaming query (Spark 4):
    stream-stream interval join → tumbling 1-day aggregation of the
    joined pairs, append mode. Only windows the final watermark has
    closed emit — the deterministic rule the oracle reproduces
    (window_end ≤ max(ts) − watermark horizon). Exercises multi-
    stateful pipelining: join state and window state coexist in one
    query, each bounded by the shared watermark."""
    ev = _events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(ev, gap="1 hour", watermark="2 hours")
    agg = joined.groupBy(F.window("purchase_ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "2"}):
        data = _run_to_parquet(agg, mode="append")
    return spark.read.schema(agg.schema).parquet(data).select(
        F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n_pairs"
    ).orderBy("day")


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on the business key within the watermark horizon
    — the engine-level replacement for the reference's manual
    delete-after-load bookkeeping (SURVEY.md §2.9)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per micro-batch
    against a static dimension (customer → market segment), broadcast
    so each batch joins map-side with zero shuffle. The static side is
    re-planned per batch by Structured Streaming — the standard way a
    stream picks up slowly-changing reference data without restarts.
    Replayed availableNow into a parquet sink; the batch-facing rollup
    (segment × event_type counts + value sums) is what the DuckDB
    oracle reproduces with a plain join."""
    from ..io.sources import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(cust), "user_id", "left").select(
        "event_id", "event_type", "value", "c_mktsegment"
    )
    data = _run_to_parquet(enriched, mode="append")
    # An unmatched user_id leaves c_mktsegment NULL; Spark sorts NULLS
    # FIRST, DuckDB NULLS LAST — coalesce to '' on both sides (oracle
    # does the same) so the ordering can't diverge if testdata ever
    # gains an unmatched key.
    return (
        spark.read.schema(enriched.schema).parquet(data)
        .withColumn("c_mktsegment", F.coalesce("c_mktsegment", F.lit("")))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .orderBy("c_mktsegment", "event_type")
    )
