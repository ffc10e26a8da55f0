"""Streaming semantic dedup: chunk-invariance vs the batch anti-join
rule, and per-batch_id replay idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR as SF


def _batch_rule_survivors(spark, docs, threshold=0.995, dim=64):
    """Reference: drop any doc with a smaller-id partner at
    round(cosine, 9) >= threshold — via the SAME shared helpers the
    batch query and the streaming processor call (cosine_pairs), so
    rule drift between the three is impossible by construction."""
    from crypto_price_data_pipeline_spark.operators.similarity import (
        cosine_pairs,
        norm_vectors,
    )
    from crypto_price_data_pipeline_spark.operators.text import feature_hash_embed

    e = norm_vectors(feature_hash_embed(docs, dim=dim), "doc_id")
    dropped = (
        cosine_pairs(e, e, threshold, "doc_id")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return {
        r["doc_id"] for r in docs.join(dropped, "doc_id", "left_anti").collect()
    }


def test_stream_semantic_dedup_chunk_invariant_and_matches_batch(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    want = _batch_rule_survivors(spark, docs)
    assert 0 < len(want) < docs.count()  # the rule actually drops something
    for n_chunks in (1, 3):
        surv = stream_semantic_dedup(spark, docs, n_chunks=n_chunks)
        got = {r["doc_id"] for r in surv.collect()}
        assert got == want, f"n_chunks={n_chunks}"


def test_stream_semantic_dedup_replay_same_batch_id_is_idempotent(spark, tmp_path):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.streaming.semantic_stream import (
        _read_store,
        make_semantic_processor,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = lo + (hi - lo) // 2
    b0 = docs.where(F.col("doc_id") <= mid)
    b1 = docs.where(F.col("doc_id") > mid)

    vec_store = str(tmp_path / "vectors")
    out = str(tmp_path / "out")
    empty_vec = spark.createDataFrame([], "_id long, _e array<double>, _n double")
    empty_vec.write.mode("overwrite").parquet(vec_store)
    spark.createDataFrame([], docs.schema).write.mode("overwrite").parquet(out)

    process = make_semantic_processor(
        cols=["doc_id", "text"],
        id_col="doc_id",
        text_col="text",
        dim=64,
        threshold=0.995,
        vec_store=vec_store,
        out=out,
        vec_schema=empty_vec.schema,
    )

    def snapshot():
        outs = sorted(tuple(r) for r in _read_store(spark, docs.schema, out).collect())
        vecs = sorted(
            (r["_id"], tuple(r["_e"])) for r in _read_store(spark, empty_vec.schema, vec_store).collect()
        )
        return outs, vecs

    process(b0, 0)
    first = snapshot()
    assert len(first[0]) > 0 and len(first[1]) > 0
    process(b0, 0)  # replay after simulated partial failure
    assert snapshot() == first

    process(b1, 1)
    got = {t[0] for t in snapshot()[0]}
    assert got == _batch_rule_survivors(spark, docs)


def test_stream_semantic_dedup_empty_and_guard(spark):
    """Empty input must return an empty survivor table (no crash on the
    min/max-None path); feature_hash_embed refuses non-positive dims."""
    import pytest

    from crypto_price_data_pipeline_spark.operators.text import feature_hash_embed
    from crypto_price_data_pipeline_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = stream_semantic_dedup(spark, empty, n_chunks=3)
    assert out.count() == 0
    with pytest.raises(ValueError, match="dim"):
        feature_hash_embed(empty, dim=0)
