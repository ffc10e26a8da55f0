"""Corpus artifact store (artifacts.py): build-once semantics, parquet
round-trip fidelity, degenerate corpora, forced rebuild, and the Spark
jobs a served read does not start."""

from __future__ import annotations

import os
import uuid

import pytest

SF = "/root/testdata/sf0.001"


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_minhash_artifacts_match_direct_build(spark):
    """Stored base+minima must be row-identical to a direct in-session
    build (the parquet round-trip changes nothing)."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_min_cols,
        with_shingles,
    )

    docs = load_table(spark, SF, "documents")
    direct_base = with_shingles(
        docs, "doc_id", "text", k=3, keep_cols=["lang"]
    ).withColumn("_n", F.size("_shingles")).persist()
    direct_mins = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(64)]
        for r in minhash_min_cols(
            direct_base, "doc_id", 64, 42, keep_cols=["_n", "lang"]
        ).collect()
    }
    stored_mins = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(64)]
        for r in artifacts.minhash_mins(spark, SF).collect()
    }
    assert stored_mins == direct_mins
    direct_sh = {
        r["doc_id"]: sorted(r["_shingles"]) for r in direct_base.collect()
    }
    stored_sh = {
        r["doc_id"]: sorted(r["_shingles"])
        for r in artifacts.minhash_base(spark, SF).collect()
    }
    direct_base.unpersist()
    assert stored_sh == direct_sh


def test_artifact_builds_once_then_reads_parquet(spark):
    """Second access must serve the same parquet directory (no rebuild);
    rebuild() must produce a fresh directory with identical content."""
    from crypto_price_data_pipeline_spark import artifacts

    key = ("simhash32", os.path.abspath(SF))
    artifacts.simhash32_table(spark, SF).count()
    d1 = artifacts._DIRS[key]
    artifacts.simhash32_table(spark, SF).count()
    assert artifacts._DIRS[key] == d1, "second access rebuilt the artifact"

    before = {r["doc_id"]: r["simhash32"] for r in artifacts.simhash32_table(spark, SF).collect()}
    artifacts.rebuild(spark, SF, "simhash32")
    d2 = artifacts._DIRS[key]
    assert d2 != d1, "rebuild must write a fresh directory"
    after = {r["doc_id"]: r["simhash32"] for r in artifacts.simhash32_table(spark, SF).collect()}
    assert after == before


def test_artifact_empty_corpus_falls_back_lazy(spark, tmp_path):
    """A corpus whose build writes a footer-less parquet directory (only
    _SUCCESS), which schema inference refuses, must keep returning
    correct empty results instead of crashing: the store reads it back
    with the schema it recorded at the write."""
    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table

    docs = load_table(spark, SF, "documents").limit(0)
    empty_dir = str(tmp_path / "empty_sf")
    os.makedirs(empty_dir)
    docs.write.parquet(os.path.join(empty_dir, "documents.parquet"))

    out = artifacts.winnow_postings(spark, empty_dir)
    assert out.count() == 0
    # and again (whether cached as a dir or as the fallback sentinel)
    assert artifacts.winnow_postings(spark, empty_dir).count() == 0


def test_tfidf_weights_match_inline_definition(spark):
    """The stored weight postings equal the reference tf*N/df definition
    computed inline (modulo the documented injective term recode — the
    comparison keys on (doc_id, w multiset))."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import tokenize

    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    toked = docs.select("doc_id", tokenize("text").alias("t")).where(F.size("t") >= 3)
    terms = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= 50)
    ref = (
        tf.join(df_, "term")
        .select("doc_id", (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("w"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
    )
    got = (
        artifacts.tfidf_weights(spark, SF)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
    )
    ref_m = {r["doc_id"]: r["ws"] for r in ref.collect()}
    got_m = {r["doc_id"]: r["ws"] for r in got.collect()}
    assert got_m == ref_m


def test_artifact_param_stamp_present_and_mismatch_raises(spark):
    """Every artifact carries its build params as column metadata, and
    an operator fed a differently-parameterized artifact table must
    raise instead of silently computing wrong results (r10 ADVICE)."""
    import pytest

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from crypto_price_data_pipeline_spark.operators.text import winnowing_pairs

    fp = artifacts.winnow_postings(spark, SF)
    stamped = [
        (f.metadata or {}).get("artifact_params")
        for f in fp.schema.fields
        if (f.metadata or {}).get("artifact_params")
    ]
    assert stamped and stamped[0]["artifact"] == "winnow_fp"
    assert stamped[0]["k"] == 8 and stamped[0]["w"] == 8

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # matching params: fine
    winnowing_pairs(docs, k=8, w=8, min_shared=1, fp=fp).count()
    # mismatched winnow window: must raise at construction
    with pytest.raises(ValueError, match="parameter mismatch"):
        winnowing_pairs(docs, k=8, w=4, min_shared=1, fp=fp)
    # mismatched shingle k against the minhash artifacts: must raise
    with pytest.raises(ValueError, match="parameter mismatch"):
        minhash_lsh_pairs(
            docs, shingle_k=5,
            base=artifacts.minhash_base(spark, SF),
            mins=artifacts.minhash_mins(spark, SF),
        )
    # wrong seed against the stored minima: must raise
    with pytest.raises(ValueError, match="parameter mismatch"):
        minhash_lsh_pairs(
            docs, seed=7,
            base=artifacts.minhash_base(spark, SF),
            mins=artifacts.minhash_mins(spark, SF),
        )


def test_rebuild_upstream_invalidates_derived(spark):
    """rebuild('minhash_base') must drop the cached minhash_mins built
    from the prior base — the corpus-change path can never serve a
    derived artifact computed from a stale upstream (r10 ADVICE)."""
    import os as _os

    from crypto_price_data_pipeline_spark import artifacts

    key_mins = ("minhash_mins", _os.path.abspath(SF))
    artifacts.minhash_mins(spark, SF).count()
    assert key_mins in artifacts._DIRS
    artifacts.rebuild(spark, SF, "minhash_base")
    assert key_mins not in artifacts._DIRS, (
        "derived minhash_mins survived an upstream rebuild"
    )
    # next access rebuilds from the NEW base and still matches
    assert artifacts.minhash_mins(spark, SF).count() > 0


def test_derived_table_inherited_stamp_accepted(spark):
    """A table the caller DERIVES from a stamped artifact inherits the
    upstream stamp through select/groupBy metadata propagation. The
    param check must treat the artifact-NAME mismatch as 'derived
    input' and pass when every shared parameter agrees (r11 ADVICE:
    this exact call raised 'artifact has minhash_base, call expects
    minhash_mins' at r11 HEAD), while a genuinely disagreeing shared
    key still fails loudly."""
    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import (
        check_precomputed_params,
        minhash_lsh_pairs,
        minhash_min_cols,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = artifacts.minhash_base(spark, SF)
    derived_mins = minhash_min_cols(base, "doc_id", 64, 42)
    # the derived table really does carry the upstream stamp
    stamps = [
        (f.metadata or {}).get("artifact_params")
        for f in derived_mins.schema.fields
        if (f.metadata or {}).get("artifact_params")
    ]
    assert stamps and stamps[0]["artifact"] == "minhash_base"
    # correct params: accepted (this raised before the fix)
    assert (
        minhash_lsh_pairs(docs, base=base, mins=derived_mins).count() >= 0
    )
    # shared key disagreement on a derived table: still a hard fail
    with pytest.raises(ValueError, match="shingle_k"):
        check_precomputed_params(
            derived_mins,
            {"artifact": "minhash_mins", "shingle_k": 4},
            "unit",
        )


def test_every_stamped_field_checked_not_just_first(spark):
    """A frame carrying TWO stamps (e.g. after joining two artifact
    tables) must have both verified — the pre-r12 code returned after
    the first stamped field, leaving the second silently unchecked
    (r11 ADVICE)."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        check_precomputed_params,
    )

    agreeing = (
        spark.range(3)
        .selectExpr("id AS a", "id AS b")
        .withMetadata("a", {"artifact_params": {"artifact": "x", "k": 8}})
        .withMetadata("b", {"artifact_params": {"artifact": "y", "k": 8}})
    )
    check_precomputed_params(agreeing, {"artifact": "x", "k": 8}, "unit_ok")
    second_disagrees = agreeing.withMetadata(
        "b", {"artifact_params": {"artifact": "y", "k": 6}}
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        check_precomputed_params(
            second_disagrees, {"artifact": "x", "k": 8}, "unit_b_bad"
        )


def test_empty_corpus_minhash_artifacts_served_without_rebuild(spark, tmp_path):
    """minhash_base and minhash_mins over an empty documents table are
    stored like any other build: 0 rows with the artifact's columns and
    parameter stamp, and a second accessor call reads the stored
    directory instead of building again."""
    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table

    empty_dir = str(tmp_path / "empty_sf")
    os.makedirs(empty_dir)
    load_table(spark, SF, "documents").limit(0).write.parquet(
        os.path.join(empty_dir, "documents.parquet")
    )
    for name in ("minhash_base", "minhash_mins"):
        accessor = artifacts.BUILDERS[name]
        out = accessor(spark, empty_dir)
        assert out.count() == 0, name
        assert out.columns == accessor(spark, SF).columns, name
        stamp = out.schema.fields[0].metadata["artifact_params"]
        assert stamp["artifact"] == name
        assert {k: stamp[k] for k in artifacts.PARAMS[name]} == artifacts.PARAMS[name]
        key = (name, os.path.abspath(empty_dir))
        entry = artifacts._DIRS[key]
        assert _jobs_started(spark, lambda: accessor(spark, empty_dir)) == 0, name
        assert artifacts._DIRS[key] == entry, f"second {name} call rebuilt"
    stamp = artifacts.minhash_mins(spark, empty_dir).schema.fields[0].metadata
    assert stamp["artifact_params"]["mh_n"] == 0


def test_repeat_artifact_accessor_starts_no_job(spark):
    """A served artifact is read with the schema recorded at its write,
    so a repeat accessor call starts no schema-inference job."""
    from crypto_price_data_pipeline_spark import artifacts

    artifacts.minhash_mins(spark, SF)
    assert _jobs_started(spark, lambda: artifacts.minhash_mins(spark, SF)) == 0


def test_repeat_load_table_starts_no_job(spark):
    """load_table infers a source's schema once; a repeat read of the
    unchanged table starts no Spark job."""
    from crypto_price_data_pipeline_spark.io.sources import load_table

    load_table(spark, SF, "events")
    assert _jobs_started(spark, lambda: load_table(spark, SF, "events")) == 0


def test_q_minhash_pairs_construct_starts_no_job(spark):
    """q_minhash_pairs serves from stored signature tables: constructing
    it reads them with known schemas, takes the strategy from the stamp
    and returns the lazy pair plan, so construct starts no job."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    QUERIES["q_minhash_pairs"](spark, SF)  # builds the artifacts if needed
    assert _jobs_started(spark, lambda: QUERIES["q_minhash_pairs"](spark, SF)) == 0


def test_recorded_artifact_schema_matches_inferred(spark):
    """The schema the store records for each artifact is the one Spark
    infers from the written directory, so a known-schema read of it
    sees the same table an inferring read would."""
    from crypto_price_data_pipeline_spark import artifacts

    for name, accessor in artifacts.BUILDERS.items():
        accessor(spark, SF)
        d, schema = artifacts._DIRS[(name, os.path.abspath(SF))]
        assert schema == spark.read.parquet(d).schema, name
