"""Incremental ANN index maintenance ([EXT] §2.9 × §2.11): keep a
hyperplane-LSH index current as embedding vectors stream in — the
ingest-time complement to the batch index builders in
operators/similarity.py (an embedding pipeline re-embeds/ingests
continuously; rebuilding the index per batch of arrivals, not per
corpus, is what keeps 100 TB of vectors searchable).

Shape per micro-batch (``foreachBatch``):
  1. bucket the batch's vectors with the SAME deterministic hyperplanes
     the batch builder uses (pure projection, zero shuffle);
  2. write (vector row + _bucket) to a per-``batch_id`` subdirectory
     with OVERWRITE — a replayed batch rewrites identical content, so
     the store is exactly-once (same pattern as dedup_stream /
     continuous_agg);
  3. queries read the store (recursiveFileLookup) and probe buckets via
     lsh_cosine_topk — because the bucket id is a pure function of the
     vector and the planes, the incrementally-built index is
     ROW-IDENTICAL to a one-shot batch build (unit-tested), so query
     results match the batch path bit-for-bit.

At warehouse scale the store is a lakehouse table partitioned by
``_bucket`` (probe = partition pruning) and compaction bounds per-batch
file debris; new centroid-dependent indexes (IVF/PQ) additionally
retrain on a sample at a slower cadence and re-encode only on codebook
rotation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import hyperplane_lsh_buckets
from ..session import scratch_dir
from .partial_store import write_batch


def stream_lsh_index(
    spark: SparkSession,
    embeddings: DataFrame,
    *,
    dim: int,
    bits: int = 6,
    seed: int = 42,
    n_chunks: int = 3,
    id_col: str = "vec_id",
    transform=None,
) -> DataFrame:
    """Replay ``embeddings`` as an ``n_chunks``-micro-batch stream and
    maintain the bucketed index store; returns the index read back
    (original columns + ``_bucket``).

    ``transform`` (optional, DataFrame → DataFrame) runs inside each
    micro-batch BEFORE bucketing — the hook that turns this into an
    ingest-time derivation pipeline (e.g. feature-hash text embedding,
    see :func:`stream_text_lsh_index`). It must be a deterministic
    per-row derivation so replayed batches rewrite identical content
    (the exactly-once contract) and the streamed index stays
    row-identical to a batch build."""
    work = scratch_dir("stream_ann_")
    src = os.path.join(work, "src")
    store = os.path.join(work, "index")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    from pyspark.sql import functions as F

    lo, hi = embeddings.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        # empty input: nothing to replay — no chunks, so the stream sees
        # zero files and the read-back below returns the empty store
        # (same guard as dedup_stream). A single-row table degenerates
        # cleanly through the cut arithmetic (one non-empty chunk, the
        # rest filter to zero rows), so only the all-empty case needs
        # special-casing.
        n_chunks = 0
    cuts = [
        lo + (hi - lo + 1) * i // max(n_chunks, 1)
        for i in range(max(n_chunks, 1) + 1)
    ] if n_chunks else []
    import time as _time

    base = _time.time()
    for i in range(n_chunks):
        d = os.path.join(src, f"chunk_{i:05d}")
        embeddings.where(
            (F.col(id_col) >= cuts[i]) & (F.col(id_col) < cuts[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _dirs, files in os.walk(d):
            for fname in files:
                os.utime(os.path.join(root, fname), (base + i, base + i))

    derived = transform(embeddings) if transform else embeddings
    indexed_schema = hyperplane_lsh_buckets(derived, dim, bits, seed).schema
    spark.createDataFrame([], indexed_schema).write.mode("overwrite").parquet(store)

    q = start_index_maintenance(
        spark,
        src,
        store,
        ckpt,
        embeddings.schema,
        dim=dim,
        bits=bits,
        seed=seed,
        transform=transform,
    )
    q.awaitTermination()
    return read_index(spark, store, indexed_schema)


def write_index_batch(
    batch: DataFrame,
    store: str,
    batch_id: int,
    *,
    dim: int,
    bits: int,
    seed: int,
    transform=None,
) -> None:
    """Bucket one micro-batch (after the optional per-batch
    ``transform`` derivation) and land it under a per-``batch_id``
    subdirectory with OVERWRITE — a replayed batch (crash between store
    write and checkpoint commit) rewrites identical content, so the
    store is exactly-once without a transaction log."""
    if transform is not None:
        batch = transform(batch)
    write_batch(hyperplane_lsh_buckets(batch, dim, bits, seed), store, batch_id)


def start_index_maintenance(
    spark: SparkSession,
    src: str,
    store: str,
    ckpt: str,
    schema,
    *,
    dim: int,
    bits: int = 6,
    seed: int = 42,
    max_files_per_trigger: int = 1,
    transform=None,
):
    """Launch the index-maintenance stream (availableNow) against a
    parquet file source; restartable from ``ckpt`` after a crash."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        write_index_batch(
            batch, store, batch_id, dim=dim, bits=bits, seed=seed, transform=transform
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def read_index(spark: SparkSession, store: str, indexed_schema) -> DataFrame:
    """Read the full incrementally-built index (all batch subdirs plus
    the empty root seed) back as one DataFrame."""
    return (
        spark.read.schema(indexed_schema)
        .option("recursiveFileLookup", "true")
        .parquet(store)
    )


def stream_text_lsh_index(
    spark: SparkSession,
    docs: DataFrame,
    *,
    dim: int = 64,
    bits: int = 6,
    seed: int = 42,
    n_chunks: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time TEXT indexing: stream raw documents, feature-hash
    embed each micro-batch in-plan (operators.text.feature_hash_embed —
    deterministic, vocabulary-free, so replays rewrite identical rows),
    and maintain the bucketed LSH index store. Returns the index read
    back: (doc_id, embedding, _bucket), row-identical to embedding +
    bucketing the whole corpus in one batch (unit-tested). This is the
    full arrival→searchable path for a text corpus: no offline embed
    job, no index rebuild per batch."""
    from ..operators.text import feature_hash_embed

    return stream_lsh_index(
        spark,
        docs,
        dim=dim,
        bits=bits,
        seed=seed,
        n_chunks=n_chunks,
        id_col=id_col,
        transform=lambda b: feature_hash_embed(
            b, id_col=id_col, text_col=text_col, dim=dim
        ),
    )
