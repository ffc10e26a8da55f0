"""Streaming surface tests: poll→accumulate→flush without the
reference's read-delete race, plus windowed rollup parity."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

PAYLOAD = {
    "time": {"updated": "Dec 6, 2022 13:31:00 UTC", "updatedISO": "2022-12-06T13:31:00+00:00"},
    "disclaimer": "d",
    "chartName": "Bitcoin",
    "bpi": {
        "USD": {"code": "USD", "rate": "17,091.0667", "description": "x"},
        "GBP": {"code": "GBP", "rate": "14,022.2766", "description": "x"},
        "EUR": {"code": "EUR", "rate": "16,105.2663", "description": "x"},
    },
}


def _rates(spark):
    return spark.createDataFrame(
        [("USD", "IDR", "2022-12-06", 15650.25)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))


def test_accumulate_then_flush(spark, tmp_path):
    from crypto_price_data_pipeline_spark.streaming.ingest import (
        accumulate_then_flush,
        start_payload_stream,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    for i in range(3):
        p = dict(PAYLOAD)
        p["time"] = {
            "updated": f"Dec 6, 2022 13:3{i}:00 UTC",
            "updatedISO": f"2022-12-06T13:3{i}:00+00:00",
        }
        (drop / f"p{i}.json").write_text(json.dumps(p))

    staging = str(tmp_path / "staging")
    warehouse = str(tmp_path / "warehouse")
    q = start_payload_stream(
        spark, str(drop), staging, str(tmp_path / "ckpt"), _rates(spark),
        now="2022-12-06 14:00:00",
    )
    q.awaitTermination()
    assert spark.read.parquet(staging).count() == 3

    assert accumulate_then_flush(spark, staging, warehouse) == 3
    # replay the flush: idempotent, nothing double-appended, nothing lost
    assert accumulate_then_flush(spark, staging, warehouse) == 0
    assert spark.read.parquet(warehouse).count() == 3

    # a new snapshot arriving AFTER the first flush is picked up by the
    # next flush (the reference's drop() would have lost it)
    p = dict(PAYLOAD)
    p["time"] = {
        "updated": "Dec 6, 2022 13:45:00 UTC",
        "updatedISO": "2022-12-06T13:45:00+00:00",
    }
    (drop / "p9.json").write_text(json.dumps(p))
    q = start_payload_stream(
        spark, str(drop), staging, str(tmp_path / "ckpt"), _rates(spark),
        now="2022-12-06 14:10:00",
    )
    q.awaitTermination()
    # checkpoint recovery: the restarted query must process ONLY the new
    # file — 4 staged rows total, not 7 (reprocessing would be masked
    # downstream by the idempotent flush, so assert at staging level)
    assert spark.read.parquet(staging).count() == 4
    assert accumulate_then_flush(spark, staging, warehouse) == 1
    assert spark.read.parquet(warehouse).count() == 4


def test_payload_stream_gate_stops_the_query_and_stages_nothing(spark, tmp_path):
    """The producer stream runs the expectation gate in its own plan: a
    good batch stages, then a payload whose date has no rate stops the
    query, and staging reads back the rows it had."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from crypto_price_data_pipeline_spark.streaming.ingest import start_payload_stream

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "p0.json").write_text(json.dumps(PAYLOAD))
    staging, ckpt = str(tmp_path / "staging"), str(tmp_path / "ckpt")

    def run():
        q = start_payload_stream(spark, str(drop), staging, ckpt, _rates(spark), now="2022-12-06 14:00:00")
        q.awaitTermination()

    run()
    before = sorted(tuple(r) for r in spark.read.parquet(staging).collect())
    assert len(before) == 1
    p = dict(PAYLOAD)
    p["time"] = {"updated": "Dec 7, 2022 09:00:00 UTC", "updatedISO": "2022-12-07T09:00:00+00:00"}
    (drop / "p1.json").write_text(json.dumps(p))
    with pytest.raises(StreamingQueryException, match="expectation gate failed"):
        run()
    assert sorted(tuple(r) for r in spark.read.parquet(staging).collect()) == before


def test_continuous_rollup(spark, tmp_path):
    """Hypertable-rollup pattern: incremental maintenance across two
    stream batches must equal the one-shot batch aggregation, and the
    union-with-tail reader must serve settled + fresh buckets."""
    from crypto_price_data_pipeline_spark.streaming.continuous_agg import (
        bucket_events,
        read_rollup,
        read_with_tail,
        start_continuous_rollup,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    b1 = mk([(1, "2024-01-01 10:05:00", "btc", 10.0),
             (2, "2024-01-01 10:55:00", "btc", 20.0),
             (3, "2024-01-01 11:05:00", "eth", 5.0)])
    b1.write.parquet(str(events_dir / "b1"))
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    src = str(events_dir)
    stream_schema = spark.read.parquet(str(events_dir / "b1")).schema
    q = start_continuous_rollup(spark, f"{src}/*", rollup_dir, ckpt, stream_schema)
    q.awaitTermination()

    # second batch lands later events, incl. one in an existing bucket
    b2 = mk([(4, "2024-01-01 10:59:00", "btc", 30.0),
             (5, "2024-01-01 12:10:00", "btc", 7.0)])
    b2.write.parquet(str(events_dir / "b2"))
    q = start_continuous_rollup(spark, f"{src}/*", rollup_dir, ckpt, stream_schema)
    q.awaitTermination()

    all_events = b1.unionByName(b2)
    expected = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in bucket_events(all_events).collect()
    }
    got = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in read_rollup(spark, rollup_dir).collect()
    }
    assert got == expected  # incremental == one-shot

    served = {
        (r["bucket_start"], r["event_type"]): r["n"]
        for r in read_with_tail(spark, rollup_dir, all_events).collect()
    }
    assert served == {k: v[0] for k, v in expected.items()}


def test_continuous_rollup_crash_and_restart_from_checkpoint(spark, tmp_path):
    """Kill the maintenance query mid-stream — AFTER a batch's store
    write but BEFORE its checkpoint commit (the worst replay window) —
    then restart from the checkpoint. The per-batch_id overwrite must
    leave every bucket counted exactly once: final rollup ≡ one-shot
    batch aggregation, no lost or duplicated buckets."""
    import os
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from crypto_price_data_pipeline_spark.streaming.continuous_agg import (
        bucket_events,
        read_rollup,
        start_continuous_rollup,
        write_batch_partials,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    chunks = [
        mk([(1, "2024-01-01 10:05:00", "btc", 10.0),
            (2, "2024-01-01 10:55:00", "btc", 20.0)]),
        mk([(3, "2024-01-01 11:05:00", "eth", 5.0),
            (4, "2024-01-01 10:59:00", "btc", 30.0)]),
        mk([(5, "2024-01-01 12:10:00", "btc", 7.0)]),
    ]
    base = time.time()
    for i, c in enumerate(chunks):
        d = str(events_dir / f"c{i}")
        c.coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for fname in files:
                os.utime(os.path.join(root, fname), (base + i, base + i))

    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    schema = chunks[0].schema
    src = f"{events_dir}/*"

    # first attempt: a sink that persists the batch's partials, then
    # dies on the second micro-batch — simulating a crash after the
    # store write landed but before the offset commit
    seen: list[int] = []

    def crashing_sink(batch, batch_id):
        write_batch_partials(bucket_events(batch), rollup_dir, batch_id)
        seen.append(batch_id)
        if len(seen) == 2:
            raise RuntimeError("injected crash after store write")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash to surface")
    except StreamingQueryException:
        pass
    assert len(seen) == 2  # two batches hit the store before the kill

    # restart from the same checkpoint with the production sink: the
    # killed batch replays (same batch_id, same files) and overwrites
    # its own partials; remaining batches follow
    q = start_continuous_rollup(
        spark, src, rollup_dir, ckpt, schema, max_files_per_trigger=1
    )
    q.awaitTermination()

    all_events = chunks[0]
    for c in chunks[1:]:
        all_events = all_events.unionByName(c)
    expected = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in bucket_events(all_events).collect()
    }
    got = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_rollup(spark, rollup_dir).collect()
    }
    assert got == expected  # exactly-once: nothing lost, nothing doubled


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from crypto_price_data_pipeline_spark.streaming.windows import streaming_dedup

    src = tmp_path / "events"
    src.mkdir()
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (1, "2024-01-01 10:00:30", 1.0),
         (2, "2024-01-01 10:01:00", 2.0)],
        "event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src / "batch1"))

    stream = spark.readStream.schema(df.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("dedup_out").count() == 2  # event 1 deduped


def test_session_windows(spark, tmp_path):
    from crypto_price_data_pipeline_spark.streaming.windows import session_windows

    src = tmp_path / "ev"
    src.mkdir()
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "a", 0.0, ""),
         (2, "2024-01-01 10:10:00", 7, "a", 0.0, ""),
         (3, "2024-01-01 12:00:00", 7, "a", 0.0, "")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src / "b"))
    stream = spark.readStream.schema(df.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        session_windows(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("sess_out").collect()
    # two sessions: [10:00,10:10] and [12:00]
    assert sorted(r["n_events"] for r in rows) == [1, 2]


def test_stream_stream_left_outer_join_emits_after_watermark(spark, tmp_path):
    """Outer rows of a stream-stream join only emit once the watermark
    passes their join window — drive two micro-batches so the second
    batch's events advance the watermark over the first's purchases."""
    import os

    from crypto_price_data_pipeline_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    schema = "event_id long, ts string, user_id long, event_type string, value double"
    src = tmp_path / "ev"
    src.mkdir()
    early = spark.createDataFrame(
        [
            (1, "2024-01-01 09:30:00", 1, "click", 5.0),
            (2, "2024-01-01 10:00:00", 1, "purchase", 50.0),  # matches click 1
            (3, "2024-01-01 10:05:00", 2, "purchase", 70.0),  # no click → outer row
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts"))
    late = spark.createDataFrame(
        [(4, "2024-01-02 00:00:00", 3, "click", 1.0)], schema  # advances watermark
    ).withColumn("ts", F.to_timestamp("ts"))
    # outer rows evict one batch AFTER the watermark passes them, so a
    # third batch is needed for batch 2's watermark to take effect
    later = spark.createDataFrame(
        [(5, "2024-01-02 01:00:00", 3, "click", 1.0)], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    early.coalesce(1).write.parquet(str(src / "b1"))
    late.coalesce(1).write.parquet(str(src / "b2"))
    later.coalesce(1).write.parquet(str(src / "b3"))
    # file source orders batches by modification time: pin b1 oldest
    for i, d in enumerate(("b1", "b2", "b3")):
        for f in (src / d).glob("*.parquet"):
            os.utime(f, (1700000000 + i * 1000, 1700000000 + i * 1000))

    stream = (
        spark.readStream.schema(early.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    joined = stream_stream_interval_join(
        stream, gap="1 hour", watermark="30 minutes", how="left_outer"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_outer")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = {r["event_id"]: r for r in spark.table("ss_outer").collect()}
    assert rows[2]["click_value"] == 5.0  # matched pair
    assert rows[3]["click_value"] is None  # outer row emitted after watermark


def test_run_to_parquet_empty_result_reads_back(spark, tmp_path):
    """An availableNow stream whose filters drop every row writes no
    parquet files; the wrapper pattern (read with the streaming DF's
    schema) must return an empty frame, not an inference error."""
    import pyspark.sql.functions as F

    from crypto_price_data_pipeline_spark.streaming.windows import _run_to_parquet

    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(str(src / "p"))
    schema = spark.read.parquet(str(src / "p")).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .where(F.col("event_type") == "no_such_type")
    )
    data = _run_to_parquet(stream, mode="append")
    out = spark.read.schema(stream.schema).parquet(data)
    assert out.count() == 0 and out.columns == [f.name for f in schema.fields]


def test_stream_lsh_index_equals_batch_build(spark):
    """The incrementally-maintained LSH index must be row-identical to
    a one-shot batch build (bucket id is a pure function of the vector
    and the deterministic planes), so queries served from the stream
    store match the batch path exactly."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.similarity import (
        hyperplane_lsh_buckets,
    )
    from crypto_price_data_pipeline_spark.streaming.ann_stream import (
        stream_lsh_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.first()["embedding"])
    streamed = stream_lsh_index(spark, emb, dim=dim, bits=6, n_chunks=3)
    batch = hyperplane_lsh_buckets(emb, dim=dim, bits=6)
    a = sorted((r["vec_id"], r["_bucket"]) for r in streamed.collect())
    b = sorted((r["vec_id"], r["_bucket"]) for r in batch.collect())
    assert a == b and len(a) == emb.count()


def test_stream_lsh_index_empty_and_single_row(spark):
    """Empty embeddings table must not crash (r6 found an unguarded
    ``lo is None`` TypeError at ann_stream.py:62); a single-row table
    must degrade to one non-empty chunk. Both read back consistently."""
    from crypto_price_data_pipeline_spark.operators.similarity import (
        hyperplane_lsh_buckets,
    )
    from crypto_price_data_pipeline_spark.streaming.ann_stream import (
        stream_lsh_index,
    )

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    out = stream_lsh_index(spark, empty, dim=4, bits=4, n_chunks=3)
    assert out.count() == 0
    assert out.columns == hyperplane_lsh_buckets(empty, 4, 4).columns

    one = spark.createDataFrame([(7, [0.1, -0.2, 0.3, 0.4])], schema)
    out1 = stream_lsh_index(spark, one, dim=4, bits=4, n_chunks=3)
    batch1 = hyperplane_lsh_buckets(one, 4, 4)
    assert [(r["vec_id"], r["_bucket"]) for r in out1.collect()] == [
        (r["vec_id"], r["_bucket"]) for r in batch1.collect()
    ]


def test_compact_rollup_folds_partials_and_preserves_result(spark, tmp_path):
    """compact_rollup must fold N per-batch subdirs into one settled
    partial with the read result unchanged, be idempotent, and stay
    exact when compacting a mix of compacted + new batch partials."""
    import os

    from crypto_price_data_pipeline_spark.streaming.continuous_agg import (
        bucket_events,
        compact_rollup,
        read_rollup,
        write_batch_partials,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    rollup_dir = str(tmp_path / "rollup")
    batches = [
        mk([(1, "2024-01-01 10:05:00", "btc", 10.0),
            (2, "2024-01-01 10:55:00", "btc", 20.0)]),
        mk([(3, "2024-01-01 11:05:00", "eth", 5.0)]),
        mk([(4, "2024-01-01 10:59:00", "btc", 30.0)]),
    ]
    for i, b in enumerate(batches):
        write_batch_partials(bucket_events(b), rollup_dir, i)

    def snap():
        return {
            (r["bucket_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in read_rollup(spark, rollup_dir).collect()
        }

    before = snap()
    assert compact_rollup(spark, rollup_dir) == 3
    assert sorted(os.listdir(rollup_dir)) == ["compacted_0000000000"]
    assert snap() == before
    # idempotent: single subdir left -> nothing to fold
    assert compact_rollup(spark, rollup_dir) == 0
    # associative: a new batch after compaction folds exactly
    extra = mk([(5, "2024-01-01 12:10:00", "btc", 7.0)])
    write_batch_partials(bucket_events(extra), rollup_dir, 3)
    with_extra = snap()
    assert compact_rollup(spark, rollup_dir) == 2
    assert snap() == with_extra


def test_hash_mixture_sampling_on_stream_equals_batch(spark, tmp_path):
    """stratified_sample_hash is a pure per-row predicate, so applying
    it at INGEST time (per micro-batch) must select exactly the rows
    the batch pass selects — a training mix can be enforced while data
    streams in, with no resampling when chunks arrive in any order."""
    from crypto_price_data_pipeline_spark.operators.sampling import (
        stratified_sample_hash,
    )

    rows = [(i, ["a", "b"][i % 2]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, s string")
    src = tmp_path / "src"
    src.mkdir()
    for c in range(3):
        df.where(F.col("id") % 3 == c).coalesce(1).write.parquet(
            str(src / f"c{c}")
        )

    mix = {"a": 0.25, "b": 0.5}
    out_dir = str(tmp_path / "picked")

    def sink(batch, batch_id):
        stratified_sample_hash(batch, "s", mix, "id").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_{batch_id:05d}")

    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = sorted(
        r["id"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .collect()
    )
    batch = sorted(
        r["id"] for r in stratified_sample_hash(df, "s", mix, "id").collect()
    )
    assert streamed == batch and len(batch) > 0


def test_stream_text_lsh_index_equals_batch_build(spark):
    """Ingest-time text indexing: streaming documents through the
    per-batch feature-hash embed + bucket pipeline must produce an
    index row-identical to embedding + bucketing the whole corpus in
    one batch (both stages are pure per-row functions)."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.similarity import (
        hyperplane_lsh_buckets,
    )
    from crypto_price_data_pipeline_spark.operators.text import feature_hash_embed
    from crypto_price_data_pipeline_spark.streaming.ann_stream import (
        stream_text_lsh_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    streamed = stream_text_lsh_index(spark, docs, dim=32, bits=5, n_chunks=3)
    batch = hyperplane_lsh_buckets(feature_hash_embed(docs, dim=32), dim=32, bits=5)
    a = sorted(
        (r["doc_id"], tuple(r["embedding"]), r["_bucket"]) for r in streamed.collect()
    )
    b = sorted(
        (r["doc_id"], tuple(r["embedding"]), r["_bucket"]) for r in batch.collect()
    )
    assert a == b and len(a) == docs.count()
