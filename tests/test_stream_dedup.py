"""Incremental LSH dedup: the survivor set must be chunking-invariant
and equal the batch anti-join rule, because the signature store keeps
every seen doc (dropped included)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.io.sources import load_table
from crypto_price_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
from crypto_price_data_pipeline_spark.streaming.dedup_stream import (
    stream_minhash_dedup,
)

SF = "/root/testdata/sf0.001"


def _batch_rule_survivors(docs):
    pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.4, block_cols=None, max_docs=None
    )
    dropped = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    return {r["doc_id"] for r in docs.select("doc_id").collect()} - dropped


def test_stream_dedup_replay_same_batch_id_is_idempotent(spark, tmp_path):
    """foreachBatch replays a batch_id after partial failure; the store
    writes are per-batch_id overwrites, so running the SAME batch twice
    must leave survivors/postings/shingles stores byte-identical (no
    duplicated rows), and a later batch must still see one copy."""
    from crypto_price_data_pipeline_spark.streaming.dedup_stream import (
        _read_store,
        make_batch_processor,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = lo + (hi - lo) // 2
    b0 = docs.where(F.col("doc_id") <= mid)
    b1 = docs.where(F.col("doc_id") > mid)

    post_store = str(tmp_path / "postings")
    sh_store = str(tmp_path / "shingles")
    out = str(tmp_path / "out")
    empty_post = spark.createDataFrame([], "_id long, band int, bucket long")
    empty_sh = spark.createDataFrame([], "_id long, _shingles array<long>")
    empty_post.write.mode("overwrite").parquet(post_store)
    empty_sh.write.mode("overwrite").parquet(sh_store)
    spark.createDataFrame([], docs.schema).write.mode("overwrite").parquet(out)

    process = make_batch_processor(
        cols=["doc_id", "text"],
        id_col="doc_id",
        text_col="text",
        num_hashes=64,
        bands=32,
        shingle_k=3,
        seed=42,
        threshold=0.4,
        post_store=post_store,
        sh_store=sh_store,
        out=out,
        post_schema=empty_post.schema,
        sh_schema=empty_sh.schema,
    )

    def snapshot():
        outs = sorted(
            tuple(r) for r in _read_store(spark, docs.schema, out).collect()
        )
        posts = sorted(
            tuple(r) for r in _read_store(spark, empty_post.schema, post_store).collect()
        )
        shs = sorted(
            (r["_id"], tuple(r["_shingles"]))
            for r in _read_store(spark, empty_sh.schema, sh_store).collect()
        )
        return outs, posts, shs

    process(b0, 0)
    first = snapshot()
    assert len(first[0]) > 0 and len(first[1]) > 0
    process(b0, 0)  # replay after simulated partial failure
    assert snapshot() == first

    # the stream continues correctly after the replay: final survivors
    # over both batches equal the batch anti-join rule
    process(b1, 1)
    got = {t[0] for t in snapshot()[0]}
    want = _batch_rule_survivors(docs)
    assert got == want


def test_stream_dedup_chunk_invariant_and_matches_batch(spark):
    docs = load_table(spark, SF, "documents")
    want = _batch_rule_survivors(docs)
    for n_chunks in (1, 3):
        surv = stream_minhash_dedup(
            spark, docs, keep_cols=["lang"], threshold=0.4, n_chunks=n_chunks
        )
        got = {r["doc_id"] for r in surv.collect()}
        assert got == want, f"n_chunks={n_chunks}"
        # survivors keep their payload columns intact
        assert surv.columns == ["doc_id", "text", "lang"]


def test_failed_batch_leaves_no_cached_frame(spark, tmp_path, monkeypatch):
    """The batch body caches its signature and band frames; a batch whose
    store write raises must still unpersist both, so the session cache
    is as empty after the failure as before the call."""
    from crypto_price_data_pipeline_spark.streaming import dedup_stream

    def failing_write(df, store, batch_id):
        raise RuntimeError("store write failed")

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    process = dedup_stream.make_batch_processor(
        cols=["doc_id", "text"],
        id_col="doc_id",
        text_col="text",
        num_hashes=64,
        bands=32,
        shingle_k=3,
        seed=42,
        threshold=0.4,
        post_store=str(tmp_path / "postings"),
        sh_store=str(tmp_path / "shingles"),
        out=str(tmp_path / "out"),
        post_schema=dedup_stream.POST_SCHEMA,
        sh_schema=dedup_stream.SH_SCHEMA,
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(dedup_stream, "_write_batch", failing_write)
    with pytest.raises(RuntimeError, match="store write failed"):
        process(docs, 0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
