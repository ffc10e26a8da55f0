"""Incremental ANN index maintenance ([EXT] §2.9 × §2.11): keep a
hyperplane-LSH index current as embedding vectors stream in — the
ingest-time complement to the batch index builders in
operators/similarity.py (an embedding pipeline re-embeds/ingests
continuously; rebuilding the index per batch of arrivals, not per
corpus, is what keeps 100 TB of vectors searchable).

Shape per micro-batch (``foreachBatch``):
  1. bucket the batch's vectors with the SAME deterministic hyperplanes
     the batch builder uses (pure projection, zero shuffle);
  2. write (vector row + _bucket) to the batch's store subdirectory
     (staging, the stream and its replay contract are
     ``partial_store``'s: id-range chunks, per-batch_id overwrite);
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
from .partial_store import id_chunks, read_store, run_partial_stream, stage_chunks, write_batch


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
    src, store = os.path.join(work, "src"), os.path.join(work, "index")
    stage_chunks(embeddings, *id_chunks(embeddings, id_col, n_chunks), src)

    def index(batch: DataFrame) -> DataFrame:
        return hyperplane_lsh_buckets(transform(batch) if transform else batch, dim, bits, seed)

    run_partial_stream(
        spark,
        src=src,
        schema=embeddings.schema,
        sink=lambda batch, batch_id: write_batch(index(batch), store, batch_id),
        ckpt=os.path.join(work, "ckpt"),
    )
    return read_store(spark, index(embeddings).schema, store)


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
