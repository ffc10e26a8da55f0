"""Wave-32 units: waterfall identities, per-source dedup consistency
with provenance, streamed survival ≡ batch."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_gmv_waterfall_identities(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    r = QUERIES["q_gmv_waterfall"](spark, SF).first()
    assert r["gross_r6"] > r["net_r6"] > 0
    assert abs((r["gross_r6"] - r["discount_r6"]) - r["net_r6"]) < 1e-3
    assert abs((r["net_r6"] + r["tax_r6"]) - r["billed_r6"]) < 1e-3
    assert 0.0 < r["discount_rate_r9"] < 0.2
    assert 0.0 < r["tax_rate_r9"] < 0.2


def test_dedup_rate_by_source_consistent_with_provenance(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_dedup_rate_by_source"](spark, SF).collect()
    total_absorbed = sum(r["n_absorbed"] for r in rows)
    prov = QUERIES["q_dedup_provenance"](spark, SF).collect()
    # absorbed_ids is a comma-joined string since round 9
    assert total_absorbed == sum(
        len([x for x in p["absorbed_ids"].split(",") if x]) for p in prov
    )
    assert sum(r["n_docs"] for r in rows) == load_table(
        spark, SF, "documents"
    ).count()
    for r in rows:
        assert 0 <= r["n_absorbed"] <= r["n_docs"]


def test_stream_survival_equals_batch(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    streamed = [tuple(r) for r in QUERIES["q_stream_survival"](spark, SF).collect()]
    batch = [tuple(r) for r in QUERIES["q_survival_curve"](spark, SF).collect()]
    assert streamed == batch


def test_stream_survival_construct_starts_only_the_stream(spark):
    """The curve's user count is read from its own k = 0 row, so
    constructing the twin starts only the partial-store stream's jobs
    (3 at sf0.001), not a second pass over the merged spans for a
    ``count()``."""
    import uuid

    from crypto_price_data_pipeline_spark.queries import QUERIES

    QUERIES["q_stream_survival"](spark, SF)  # first use infers the source schema
    sc = spark.sparkContext
    group = f"survival-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        QUERIES["q_stream_survival"](spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
