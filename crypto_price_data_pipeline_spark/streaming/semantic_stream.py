"""Ingest-time SEMANTIC dedup ([EXT] §2.9 × §2.11): the vector twin of
``dedup_stream`` — drop arriving documents whose derived embedding is
near-identical (cosine ≥ threshold) to ANY already-seen document.

Shape per micro-batch (``foreachBatch``):

  1. feature-hash embed the batch in-plan (deterministic, so replays
     rewrite identical content);
  2. score the batch against the persistent VECTOR store (every seen
     doc's vector, dropped ones included) plus smaller-id partners
     within the batch;
  3. docs with any partner at ``round(cosine, 9) ≥ threshold`` are
     DROPPED; survivors append to the output table;
  4. the batch's vectors append to the store — dropped docs' too, so
     the decision rule is the batch anti-join semantics ("near-dup of
     any smaller-id doc"), not arrival-path-dependent greediness.

The per-batch scoring here is the EXACT scan against the full store —
the verification baseline, same contract as the gated quadratic pair
baselines (total work Σ|batch|·|seen| is corpus-quadratic). At scale,
swap step 2's candidate generation for a probe of the LSH-bucketed
store that ``ann_stream.stream_text_lsh_index`` already maintains
(sign-LSH recall at near-identical cosine is a dial: miss ≈
C(bits, r+1)·(θ/π)^(r+1) — size bits/probe radius to the corpus) and
keep this exact rule as the verify step on candidates only.

Decision-rule note: the batch ``q_semantic_dedup`` closes pairs into
connected components and keeps each component's min id; this stream
(like ``stream_minhash_dedup``) keeps a doc iff it has NO smaller-id
near-dup partner. The two differ only on chains whose middle links are
all larger-id (a doc can be "rescued" by the anti-join rule); both are
standard, and the oracle for each states its own rule.

Staging, the stream and its replay contract are ``partial_store``'s
(id-range chunks, per-batch_id overwrite stores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import cosine_pairs, norm_vectors
from ..session import materialize, scratch_dir
from ..operators.text import feature_hash_embed
from .partial_store import id_chunks, run_partial_stream, stage_chunks
from .partial_store import read_store as _read_store
from .partial_store import write_batch as _write_batch

VEC_SCHEMA = "_id long, _e array<double>, _n double"


def make_semantic_processor(
    *,
    cols: list[str],
    id_col: str,
    text_col: str,
    dim: int,
    threshold: float,
    vec_store: str,
    out: str,
    vec_schema,
):
    """foreachBatch body, module-level so tests can drive it directly
    (same-batch_id replay idempotence)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        emb = feature_hash_embed(batch, id_col=id_col, text_col=text_col, dim=dim)
        # materialize=False: the checkpoint below (and the store write)
        # own the batch vectors — no extra repartition of a micro-batch
        bvec = norm_vectors(emb, id_col, materialize=False).withColumnRenamed(
            id_col, "_id"
        ).transform(materialize)
        stored = _read_store(bspark, vec_schema, vec_store)
        # On replay the store may already hold THIS batch's vectors from
        # a failed attempt — identical rows; dropping the batch's own
        # ids keeps the seen-side strictly "previous batches", and the
        # within-batch smaller-id check below covers the rest. (Without
        # the exclusion, a replayed doc would compare against itself at
        # cosine 1 and be wrongly dropped.)
        seen = stored.join(
            bvec.select(F.col("_id")), "_id", "left_anti"
        ).unionByName(bvec.select("_id", "_e", "_n"))
        # cosine_pairs is the SHARED exact rule (same call the batch
        # q_semantic_dedup and the test reference make)
        dropped = (
            cosine_pairs(seen, bvec, threshold, "_id")
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        survivors = batch.join(dropped, id_col, "left_anti")
        _write_batch(survivors.select(*cols), out, batch_id)
        _write_batch(bvec.select("_id", "_e", "_n"), vec_store, batch_id)

    return _process


def stream_semantic_dedup(
    spark: SparkSession,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: list[str] | None = None,
    threshold: float = 0.995,
    dim: int = 64,
    n_chunks: int = 4,
) -> DataFrame:
    """Replay ``docs`` as an ``n_chunks``-micro-batch stream through the
    incremental semantic dedup; returns the survivor table (id,
    text, *keep_cols) read back from the parquet sink."""
    work = scratch_dir("stream_semdedup_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    cols = [id_col, text_col, *(keep_cols or [])]
    staged = docs.select(*cols)
    stage_chunks(staged, *id_chunks(staged, id_col, n_chunks), src)

    _process = make_semantic_processor(
        cols=cols,
        id_col=id_col,
        text_col=text_col,
        dim=dim,
        threshold=threshold,
        vec_store=os.path.join(work, "vectors"),
        out=out,
        vec_schema=VEC_SCHEMA,
    )
    run_partial_stream(
        spark, src=src, schema=staged.schema, sink=_process, ckpt=os.path.join(work, "ckpt")
    )
    return _read_store(spark, staged.schema, out)
