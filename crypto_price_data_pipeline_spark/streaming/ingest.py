"""Streaming ingest: poll → accumulate → flush (SURVEY.md §3.2-3.3).

The reference implements this with two DAGs racing over a shared Mongo
collection (10-min producer appends, hourly consumer scans then DROPS
the collection — rows inserted between the scan and the drop are lost,
dump_with_postgres.py:149-175). The Spark re-expression is race-free:

- the *producer* is a streaming query appending validated snapshots to
  a parquet staging dir with a checkpoint (exactly-once file-source
  progress; no manual XCom/cleanup), gated in its plan as the reference
  validates before it stages (dump_with_postgres.py:200);
- the *consumer* is an ``availableNow`` pass over staging that
  idempotently appends to the warehouse keyed on ``job_id`` — a retry
  or an overlapping run appends nothing twice, so nothing is dropped
  and nothing needs deleting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..io.sinks import idempotent_append
from ..pipeline.flatten import flatten_payload
from ..pipeline.rates import join_idr_rate
from ..pipeline.schema import BPI_PAYLOAD_SCHEMA, ENRICHED_COLUMNS
from ..pipeline.validate import expectation_gate


def start_payload_stream(
    spark: SparkSession,
    drop_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    fx_rates: DataFrame,
    now: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Producer: watch ``drop_dir`` for payload JSON files (the
    deterministic stand-in for the HTTP poll), run the flatten/enrich
    pipeline and the expectation gate per micro-batch, append to
    staging. A failing batch stops the query and commits nothing."""
    raw = spark.readStream.schema(BPI_PAYLOAD_SCHEMA).json(drop_dir)
    enriched = expectation_gate(
        join_idr_rate(flatten_payload(raw, now=now), fx_rates).select(*ENRICHED_COLUMNS)
    )
    writer = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def accumulate_then_flush(
    spark: SparkSession,
    staging_dir: str,
    warehouse_dir: str,
) -> int:
    """Consumer: flush staged snapshots to the warehouse, idempotently
    keyed on job_id (replaces the reference's scan→to_sql→drop chain
    without its read-delete race). Returns rows newly written."""
    if not os.path.exists(staging_dir):
        return 0
    staged = spark.read.parquet(staging_dir)
    return idempotent_append(spark, staged, warehouse_dir, keys=["job_id"])
