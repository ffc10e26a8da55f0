"""Streamed CDC capture for MERGE INTO: per-batch latest-change
partials + merge-on-read reduction.

The batch path (``operators/merge.merge_upsert``) applies ONE change
row per key. At ingest time the change events arrive in micro-batches
with a key's events possibly split across batches, so the streaming
decomposition mirrors ``continuous_agg``:

- **write path** (per micro-batch): reduce the batch to its latest
  event per key (argmax by the (ts, tiebreak) order — a batch-local,
  replay-idempotent partial) and land it in a per-batch_id OVERWRITE
  store. Re-delivery of a batch rewrites identical content.
- **read path**: union the partials and re-run the SAME argmax across
  batches. argmax over a total order is associative, so per-batch
  winners reduced again ≡ the global latest-per-key — which is why the
  streamed merge matches the batch oracle whatever the chunking.

Both paths reduce with ``operators.merge.latest_per_key``, the partial
the registry pair q_merge_upsert / q_stream_merge shares (that twin
streams through ``partial_store.stream_partials``; this module is the
same log over a caller-staged source directory). State stays bounded
by |keys| per batch, not |events|; the partial log compacts with
``continuous_agg.compact_rollup``'s staged-swap pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import latest_per_key
from .partial_store import read_store, run_partial_stream, write_batch


def stream_cdc_log(
    spark: SparkSession,
    src: str,
    schema,
    log_dir: str,
    checkpoint_dir: str,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    payload_cols: list[str],
) -> None:
    """availableNow ingest: per micro-batch, keep each key's latest row
    (ORDER BY ts DESC, tiebreak DESC) and land it per-batch_id."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        latest = latest_per_key(batch, key_col, ts_col, tiebreak_col)
        write_batch(latest.select(key_col, ts_col, tiebreak_col, *payload_cols), log_dir, batch_id)

    run_partial_stream(
        spark, src=src, schema=schema, sink=sink, ckpt=checkpoint_dir
    )


def read_cdc_changes(
    spark: SparkSession,
    log_dir: str,
    read_schema: str,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Merge-on-read: union the per-batch winners, re-reduce to the
    global latest per key (same argmax — associative), return one
    change row per key."""
    return latest_per_key(read_store(spark, read_schema, log_dir), key_col, ts_col, tiebreak_col)
