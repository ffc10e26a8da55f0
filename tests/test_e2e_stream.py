"""End-to-end: custom http_poll streaming source → run_pipeline (flatten,
rates join, expectation gate) → idempotent warehouse, inside
``foreachBatch``. The full reference DAG chain
(crawl → enrich → flatten → validate → load) as one streaming job, plus
its restart and crash-replay behaviour over one checkpoint."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.io.sinks import idempotent_append
from crypto_price_data_pipeline_spark.pipeline.pipeline import run_pipeline
from crypto_price_data_pipeline_spark.pipeline.schema import (
    BPI_PAYLOAD_SCHEMA,
    ENRICHED_COLUMNS,
)
from crypto_price_data_pipeline_spark.streaming.http_source import (
    default_fetch,
    register,
)

NOW = "2022-12-06 14:00:00"


def _rates(spark):
    return spark.createDataFrame(
        [("USD", "IDR", "2022-12-06", 15650.25)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))


def _parsed(df):
    return df.select(F.from_json("value", BPI_PAYLOAD_SCHEMA).alias("p")).select("p.*")


def _available_now(spark, ckpt: str, ticks: int, fn) -> None:
    """One ``availableNow`` run of the poll stream into ``foreachBatch(fn)``."""
    register(spark)
    raw = spark.readStream.format("http_poll").option("ticksPerBatch", str(ticks)).load()
    q = (
        _parsed(raw)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _ticks(batch_df) -> list[str]:
    return [r["updatedISO"] for r in batch_df.select("time.updatedISO").collect()]


def _iso(start: int, end: int) -> list[str]:
    return [json.loads(p)["time"]["updatedISO"] for p in default_fetch(start, end)]


def test_http_poll_to_warehouse(spark, tmp_path):
    rates = _rates(spark)
    warehouse = str(tmp_path / "warehouse")

    def sink(d):
        idempotent_append(spark, d, warehouse, keys=["job_id"])

    _available_now(
        spark,
        str(tmp_path / "ckpt"),
        5,
        lambda batch_df, _: run_pipeline(batch_df, rates, now=NOW, sink=sink),
    )

    out = spark.read.parquet(warehouse)
    rows = out.collect()
    assert len(rows) == 5
    assert out.columns == ENRICHED_COLUMNS
    r = {row["time_updated_iso"]: row for row in rows}
    # synthetic fetcher: rate = 17000 + tick, all on 2022-12-06
    first = r["2022-12-06 12:00:00"]
    assert first["bpi_usd_rate_float"] == 17000.0
    assert first["bpi_idr_rate_float"] == 17000.0 * 15650.25
    assert first["bpi_gdp_code"] == "GBP"
    assert first["last_updated"] == NOW

    # replaying the same offsets into the sink appends nothing
    replay = _parsed(
        spark.createDataFrame([(v,) for v in default_fetch(0, 5)], "value string")
    )
    replay_out = run_pipeline(replay, rates, now=NOW)
    assert idempotent_append(spark, replay_out, warehouse, keys=["job_id"]) == 0
    assert spark.read.parquet(warehouse).count() == 5


def test_http_poll_restart_resumes_from_checkpoint(spark, tmp_path):
    """Each availableNow run over one checkpoint picks up where the last
    committed batch ended: three runs deliver ticks 0-11 once each, in
    order. The offsets are a function of the checkpointed start, not of
    reader state that a restart resets."""
    ckpt = str(tmp_path / "ckpt")
    seen: list[list[str]] = []
    for _ in range(3):
        _available_now(spark, ckpt, 4, lambda batch_df, _: seen.append(_ticks(batch_df)))
    assert seen == [_iso(0, 4), _iso(4, 8), _iso(8, 12)]


def test_http_poll_crash_replay_lands_each_snapshot_once(spark, tmp_path):
    """``foreachBatch`` raises once on batch 1, after the sink wrote. The
    restart replays batch 1 with the same ticks (``readBetweenOffsets``),
    the idempotent sink appends none of them again, and the next run
    moves on: the warehouse ends with one row per polled snapshot."""
    rates = _rates(spark)
    ckpt = str(tmp_path / "ckpt")
    warehouse = str(tmp_path / "warehouse")
    delivered: list[tuple[int, list[str]]] = []
    written: list[int] = []

    def land(batch_df, batch_id):
        delivered.append((batch_id, _ticks(batch_df)))

        def sink(d):
            written.append(idempotent_append(spark, d, warehouse, keys=["job_id"]))

        run_pipeline(batch_df, rates, now=NOW, sink=sink)
        if batch_id == 1 and len(delivered) == 2:
            raise RuntimeError("crash after the sink wrote")

    # the source plans one batch per availableNow run
    _available_now(spark, ckpt, 4, land)
    with pytest.raises(StreamingQueryException, match="crash after the sink wrote"):
        _available_now(spark, ckpt, 4, land)
    _available_now(spark, ckpt, 4, land)  # the restart replays batch 1
    _available_now(spark, ckpt, 4, land)

    assert delivered == [
        (0, _iso(0, 4)),
        (1, _iso(4, 8)),
        (1, _iso(4, 8)),  # the replay: same batch, same ticks
        (2, _iso(8, 12)),
    ]
    assert written == [4, 4, 0, 4]
    rows = spark.read.parquet(warehouse).collect()
    assert sorted(r["time_updated_iso"] for r in rows) == [
        t.replace("T", " ")[:19] for t in _iso(0, 12)
    ]
    assert len({r["job_id"] for r in rows}) == len(rows) == 12


def test_gate_failure_in_foreach_batch_commits_nothing(spark, tmp_path):
    """A micro-batch whose dates are missing from the rates fails the
    gate inside ``foreachBatch``: the query stops with the
    ``ValidationError``, and the warehouse keeps the files and rows of
    the batches before it, with no staging left."""
    ckpt = str(tmp_path / "ckpt")
    warehouse = str(tmp_path / "warehouse")

    def land(rates):
        def sink(d):
            idempotent_append(spark, d, warehouse, keys=["job_id"])

        return lambda batch_df, _: run_pipeline(batch_df, rates, now=NOW, sink=sink)

    def state():
        files = sorted(
            os.path.relpath(os.path.join(root, f), warehouse)
            for root, _, names in os.walk(warehouse)
            for f in names
        )
        return files, sorted(tuple(r) for r in spark.read.parquet(warehouse).collect())

    _available_now(spark, ckpt, 4, land(_rates(spark)))
    before = state()
    assert len(before[1]) == 4
    no_rate = spark.createDataFrame(
        [("USD", "IDR", "2022-12-07", 15650.25)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))
    with pytest.raises(StreamingQueryException, match="expectation gate failed"):
        _available_now(spark, ckpt, 4, land(no_rate))
    assert state() == before
    assert not any(f.startswith("_staging-") for f in os.listdir(warehouse))
