"""Pipeline parity tests: golden BPI payload through flatten/enrich/
validate (FIXTURES.md §1-3, reference semantics per SURVEY.md §1.3)."""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import sys
import threading
import weakref
from contextlib import contextmanager

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.pipeline import (
    BPI_PAYLOAD_SCHEMA,
    ENRICHED_COLUMNS,
    ValidationError,
    join_idr_rate,
    run_pipeline,
)
from crypto_price_data_pipeline_spark.pipeline.schema import BPI_PAYLOAD_MAP_SCHEMA

GOLDEN = (
    {"updated": "Dec 6, 2022 13:31:00 UTC", "updatedISO": "2022-12-06T13:31:00+00:00"},
    "This data was produced from the CoinDesk Bitcoin Price Index (USD).",
    "Bitcoin",
    {
        "USD": {"code": "USD", "rate": "17,091.0667", "description": "United States Dollar"},
        "GBP": {"code": "GBP", "rate": "14,022.2766", "description": "British Pound Sterling"},
        "EUR": {"code": "EUR", "rate": "16,105.2663", "description": "Euro"},
    },
)


def _rates(spark):
    return spark.createDataFrame(
        [("USD", "IDR", "2022-12-06", 15650.25)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))


def test_golden_payload_roundtrip(spark):
    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    out = run_pipeline(payloads, _rates(spark), now="2022-12-06 14:00:03")
    assert out.columns == ENRICHED_COLUMNS
    row = out.collect()[0].asDict()
    assert row["chart_name"] == "Bitcoin"
    assert row["bpi_usd_code"] == "USD"
    assert row["bpi_usd_rate_float"] == 17091.0667
    # GBP data under the reference's intentional gdp misspelling
    assert row["bpi_gdp_code"] == "GBP"
    assert row["bpi_gdp_rate_float"] == 14022.2766
    assert row["bpi_eur_rate_float"] == 16105.2663
    # engine-side multiplication replacing the convert API
    assert row["bpi_idr_rate_float"] == 17091.0667 * 15650.25
    # timestamps as wall-format strings, tz dropped
    assert row["time_updated"] == "2022-12-06 13:31:00"
    assert row["time_updated_iso"] == "2022-12-06 13:31:00"
    assert row["last_updated"] == "2022-12-06 14:00:03"
    # deterministic content-hash job id (32-hex like the Mongo ObjectId hex)
    assert len(row["job_id"]) == 32 and int(row["job_id"], 16) >= 0


def test_missing_rate_fails_gate(spark):
    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    no_match = spark.createDataFrame(
        [("USD", "IDR", "1999-01-01", 1.0)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))
    with pytest.raises(ValidationError):
        run_pipeline(payloads, no_match, now="2022-12-06 14:00:03")


def test_bad_timestamp_fails_gate_not_runtime(spark):
    bad = (
        {"updated": "garbage", "updatedISO": "not-iso"},
        "d",
        "Bitcoin",
        GOLDEN[3],
    )
    payloads = spark.createDataFrame([bad], BPI_PAYLOAD_SCHEMA)
    with pytest.raises(ValidationError):
        run_pipeline(payloads, _rates(spark), now="2022-12-06 14:00:03")


def _files(path):
    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _, files in os.walk(path)
        for f in files
    )


def test_idempotent_append(spark, tmp_path):
    from crypto_price_data_pipeline_spark.io.sinks import idempotent_append

    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    out = run_pipeline(payloads, _rates(spark), now="2022-12-06 14:00:03")
    path = str(tmp_path / "warehouse")
    assert idempotent_append(spark, out, path, keys=["job_id"]) == 1
    files = _files(path)
    assert [f for f in files if f.endswith(".parquet")] and not any(
        f.startswith("_staging-") for f in files
    )
    # replay: same batch appends nothing (replaces reference's manual
    # delete-after-load bookkeeping) and commits no empty file
    assert idempotent_append(spark, out, path, keys=["job_id"]) == 0
    assert _files(path) == files
    assert spark.read.parquet(path).count() == 1

    # a batch of no rows into a missing table leaves no table behind
    empty = str(tmp_path / "empty")
    assert idempotent_append(spark, out.limit(0), empty, keys=["job_id"]) == 0
    assert not os.path.exists(empty)

    # partition_by: rows land under k=v/ and read back; a replay adds nothing
    parted = str(tmp_path / "parted")
    rows = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (2, "b", "y")], "id long, v string, p string"
    )
    assert idempotent_append(spark, rows, parted, keys=["id"], partition_by=["p"]) == 2
    assert {os.path.dirname(f) for f in _files(parted) if f.endswith(".parquet")} == {
        "p=x",
        "p=y",
    }
    assert idempotent_append(spark, rows, parted, keys=["id"], partition_by=["p"]) == 0
    back = sorted(tuple(r) for r in spark.read.parquet(parted).select("id", "v", "p").collect())
    assert back == [(1, "a", "x"), (2, "b", "y")]

    # an existing warehouse that cannot be read raises; it is never taken
    # for an empty table and re-appended to
    for f in _files(path):
        full = os.path.join(path, f)
        if f.endswith(".crc"):
            os.remove(full)
        else:
            with open(full, "wb") as fh:
                fh.write(b"not parquet")
    broken = _files(path)
    with pytest.raises((PySparkException, Py4JJavaError)):
        idempotent_append(spark, out, path, keys=["job_id"])
    assert _files(path) == broken


def _landed(spark, path):
    """(file list, sorted rows) of a warehouse."""
    return _files(path), sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _payloads_bad_last(spark, fault):
    """2,075 payloads of 2022-12-06 from 14:00:00, one per second, built
    on the JVM with no shuffle in 4 partitions of 25, 25, 25 and 2,000
    rows, so the gate runs in the tasks that write. The last row of the
    long partition carries ``fault``: the short partitions finish well
    before it is reached."""
    spans = F.sequence(F.col("id") * 10000, F.col("id") * 10000 + F.when(F.col("id") == 3, 1999).otherwise(24))
    i = F.col("t")
    last = i == 31999
    day = F.when(last & F.lit(fault == "missing_rate"), "7").otherwise("6")
    hhmmss = F.format_string("%02d:%02d:%02d", (i / 3600 + 14).cast("int"), (i / 60 % 60).cast("int"), i % 60)
    updated = F.concat(F.lit("Dec "), day, F.lit(", 2022 "), hhmmss, F.lit(" UTC"))
    iso = F.concat(F.lit("2022-12-0"), day, F.lit("T"), hhmmss, F.lit("+00:00"))
    if fault == "bad_updated_iso":
        updated = F.when(last, "garbage").otherwise(updated)
        iso = F.when(last, "not-iso").otherwise(iso)
    bpi = F.from_json(F.lit(json.dumps(GOLDEN[3])), BPI_PAYLOAD_SCHEMA["bpi"].dataType)
    return spark.range(0, 4, 1, 4).select(F.explode(spans).alias("t")).select(
        F.struct(updated.alias("updated"), iso.alias("updatedISO")).alias("time"),
        F.lit(GOLDEN[1]).alias("disclaimer"),
        F.lit(GOLDEN[2]).alias("chartName"),
        bpi.alias("bpi"),
        "t",
    )


_SINKS = ["idempotent_append", "append_parquet", "merge_upsert", "jdbc_append"]


# the idempotent_append cases keep the ids they had before the matrix
@pytest.mark.parametrize(
    "sink_name, fault",
    [
        pytest.param(s, f, id=f if s == "idempotent_append" else f"{s}-{f}")
        for s in _SINKS
        for f in ("bad_updated_iso", "missing_rate")
    ],
)
def test_gate_failure_commits_nothing(spark, tmp_path, sink_name, fault):
    """A batch of 2,074 good rows and one that fails the gate raises
    ``ValidationError`` from ``run_pipeline(sink=...)`` with nothing
    loaded, whatever the sink: the table keeps its rows (and files), and
    no staging or ``_temporary`` is left. ``jdbc_append`` gets a
    4-partition input, so a commit per partition would land 75 rows;
    ``merge_upsert`` holds only because it computes the merge before it
    overwrites."""
    from crypto_price_data_pipeline_spark.io import sinks
    from crypto_price_data_pipeline_spark.io.sources import jdbc_read

    path = str(tmp_path / "warehouse")
    now = "2022-12-06 14:00:03"
    jdbc = ("jdbc:derby:memory:gatedb;create=true", f"gate_{fault}",
            {"driver": "org.apache.derby.jdbc.EmbeddedDriver"})
    sink = {
        "idempotent_append": lambda d: sinks.idempotent_append(spark, d, path, keys=["job_id"]),
        "append_parquet": lambda d: sinks.append_parquet(d, path),
        "merge_upsert": lambda d: sinks.merge_upsert(spark, d, path, keys=["job_id"]),
        "jdbc_append": lambda d: sinks.jdbc_append(d, *jdbc),
    }[sink_name]

    def landed():
        if sink_name == "jdbc_append":
            return sorted(tuple(r) for r in jdbc_read(spark, *jdbc).collect())
        return _landed(spark, path)

    golden = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    try:
        run_pipeline(golden, _rates(spark), now=now, sink=sink)
    except Exception as e:  # pragma: no cover - driver genuinely absent
        if sink_name != "jdbc_append":
            raise
        pytest.skip(f"embedded Derby unavailable: {e}")
    before = landed()
    assert len(before if sink_name == "jdbc_append" else before[1]) == 1

    bad = _payloads_bad_last(spark, fault)
    assert bad._jdf.rdd().getNumPartitions() == 4
    with pytest.raises(ValidationError, match="expectation gate failed"):
        run_pipeline(bad, _rates(spark), now=now, sink=sink)
    assert landed() == before
    if sink_name != "jdbc_append":
        assert not [f for f in os.listdir(path) if f.startswith(("_staging-", "_temporary"))]
    # the same rows without the bad one load in full
    run_pipeline(bad.where("t < 31999"), _rates(spark), now=now, sink=sink)
    after = landed()
    assert len(after if sink_name == "jdbc_append" else after[1]) == 2075


def test_only_the_gate_failure_becomes_validation_error(spark, tmp_path):
    """A sink that fails for any other reason raises its own exception
    through ``run_pipeline``: a ``raise_error`` of other text, and a
    warehouse that cannot be read."""
    from pyspark.errors import SparkRuntimeException

    from crypto_price_data_pipeline_spark.io.sinks import idempotent_append

    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    now = "2022-12-06 14:00:03"

    def other(d):
        d.select(F.raise_error(F.lit("the disk is full"))).collect()

    with pytest.raises(SparkRuntimeException, match="the disk is full") as raised:
        run_pipeline(payloads, _rates(spark), now=now, sink=other)
    assert not isinstance(raised.value, ValidationError)
    assert raised.value.getCondition() == "USER_RAISED_EXCEPTION"

    path = str(tmp_path / "warehouse")

    def sink(d):
        idempotent_append(spark, d, path, keys=["job_id"])

    run_pipeline(payloads, _rates(spark), now=now, sink=sink)
    for f in _files(path):
        full = os.path.join(path, f)
        if f.endswith(".crc"):
            os.remove(full)
        else:
            with open(full, "wb") as fh:
                fh.write(b"not parquet")
    with pytest.raises((PySparkException, Py4JJavaError)) as direct:
        sink(run_pipeline(payloads, _rates(spark), now=now))
    with pytest.raises((PySparkException, Py4JJavaError)) as through:
        run_pipeline(payloads, _rates(spark), now=now, sink=sink)
    assert type(through.value) is type(direct.value)
    assert not isinstance(through.value, ValidationError)


def test_rates_lookup_plans_no_join(spark):
    """The rates reach each row through array literals: no join in the
    plan, a NULL for a day the dimension skips, and a fixed number of
    py4j commands to build, whatever the number of dates."""
    from crypto_price_data_pipeline_spark.pipeline.rates import _lookup

    rates = spark.createDataFrame(
        [("USD", "IDR", dt.date(2022, 12, 4), 2.0), ("USD", "IDR", dt.date(2022, 12, 6), 3.0),
         ("EUR", "IDR", dt.date(2022, 12, 5), 9.0)],
        "from_ccy string, to_ccy string, rate_date date, rate double",
    )
    days = [(dt.datetime(2022, 12, d, 13), 10.0) for d in range(3, 8)]
    events = spark.createDataFrame(days, "_event_ts timestamp, bpi_usd_rate_float double")
    out = join_idr_rate(events, rates)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    got = [r["bpi_idr_rate_float"] for r in out.orderBy("_event_ts").collect()]
    assert got == [None, 20.0, None, 30.0, None]

    def build_commands(n):
        rows = [(dt.date(2020, 1, 1) + dt.timedelta(days=i), float(i)) for i in range(n)]
        with _py4j_commands(spark, this_thread=True) as sent:
            _lookup(rows, "USD", "IDR")
        return sent[0]

    build_commands(3)  # first use builds the JVM handles
    assert build_commands(3000) == build_commands(3)


def test_rates_duplicate_date_or_stream_raises(spark):
    twice = spark.createDataFrame(
        [("USD", "IDR", dt.date(2022, 12, 6), 1.0), ("USD", "IDR", dt.date(2022, 12, 6), 2.0)],
        "from_ccy string, to_ccy string, rate_date date, rate double",
    )
    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    with pytest.raises(ValueError, match="more than one USD->IDR rate on 2022-12-06"):
        run_pipeline(payloads, twice, now="2022-12-06 14:00:03")
    stream = spark.readStream.format("rate").load().select(
        F.lit("USD").alias("from_ccy"), F.lit("IDR").alias("to_ccy"),
        F.to_date("timestamp").alias("rate_date"), F.col("value").cast("double").alias("rate"),
    )
    with pytest.raises(ValueError, match="static DataFrame"):
        run_pipeline(payloads, stream, now="2022-12-06 14:00:03")


def _tapped_rates(spark, rate, hits):
    """A rates frame evaluated in Python workers: ``hits`` counts every
    row the engine reads from it."""

    def tap(row):
        hits.add(1)
        return row

    rows = [("USD", "IDR", dt.date(2022, 12, 6), rate)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2).map(tap),
        "from_ccy string, to_ccy string, rate_date date, rate double",
    )


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_rates_read_once_per_frame(spark):
    hits = spark.sparkContext.accumulator(0)
    rates = _tapped_rates(spark, 15650.25, hits)
    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    now = "2022-12-06 14:00:03"

    def run():
        return [r.asDict() for r in run_pipeline(payloads, rates, now=now).collect()]

    first, first_jobs = _jobs_in_group(spark, "rates_first", run)
    read = hits.value
    assert read > 0
    # the same frame again: its rates are not read again, and the run
    # issues one job fewer (the collect of the pair's slice)
    second, second_jobs = _jobs_in_group(spark, "rates_second", run)
    assert hits.value == read
    assert len(second_jobs) == len(first_jobs) - 1
    assert second == first
    assert first[0]["bpi_idr_rate_float"] == 17091.0667 * 15650.25

    # a different frame, even over the same pair, gets its own rates
    other = _tapped_rates(spark, 2.0, hits)
    row = run_pipeline(payloads, other, now=now).collect()[0]
    assert row["bpi_idr_rate_float"] == 17091.0667 * 2.0
    assert hits.value > read


def test_rates_memo_released_with_frame(spark):
    from crypto_price_data_pipeline_spark.pipeline.rates import _SLICES

    payloads = spark.createDataFrame([GOLDEN], BPI_PAYLOAD_SCHEMA)
    rates = _rates(spark)
    run_pipeline(payloads, rates, now="2022-12-06 14:00:03")
    assert rates in _SLICES
    gc.collect()
    held = len(_SLICES)
    ref = weakref.ref(rates)
    del rates
    gc.collect()
    assert ref() is None
    assert len(_SLICES) == held - 1


def test_rates_memo_one_collect_under_threads(spark):
    from crypto_price_data_pipeline_spark.pipeline.rates import _rate_slice

    hits = spark.sparkContext.accumulator(0)
    rates = _tapped_rates(spark, 15650.25, hits)
    got = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(_rate_slice(rates, "USD", "IDR")))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    # every thread got the one lookup, and the rates were read by one job
    assert len(got) == 8 and all(g is got[0] for g in got)
    assert hits.value == 1


@contextmanager
def _py4j_commands(spark, this_thread=False):
    """Count the py4j commands this process (or only this thread: py4j
    releases dead objects from a thread of its own) sends to the JVM in
    the block."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]
    me = threading.get_ident()

    def counting(*args, **kwargs):
        if not this_thread or threading.get_ident() == me:
            sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command  # the class's method again


# A repeat call sent ~1,500 commands while it rebuilt its Column
# expressions per call; with them built once it sends 152-181 from the
# calling thread (py4j's object-release thread adds up to ~200 more, so
# it is not counted). The bound keeps the earlier headroom: 500 over 285.
REPEAT_CALL_COMMANDS = 300


def test_repeat_pipeline_call_sends_bounded_py4j_commands(spark, tmp_path):
    """A repeat ``run_pipeline(..., sink=idempotent_append)`` call landing
    a 10-row batch, as one ingest trigger does, sends a bounded number of
    py4j commands: its expressions are built once, not per call. A new
    ``now`` value and the map ``bpi`` encoding each get their own
    projection (checked on the rows they land), then are as cheap."""
    from crypto_price_data_pipeline_spark.io.sinks import idempotent_append
    from crypto_price_data_pipeline_spark.streaming.http_source import default_fetch

    rates = _rates(spark)
    warehouse = str(tmp_path / "warehouse")

    def payloads(start, schema):
        raw = [(v,) for v in default_fetch(start, start + 10)]
        return spark.createDataFrame(raw, "value string").select(
            F.from_json("value", schema).alias("p")
        ).select("p.*")

    def land(start, now, schema=BPI_PAYLOAD_SCHEMA):
        batch = payloads(start, schema)
        with _py4j_commands(spark, this_thread=True) as sent:
            run_pipeline(
                batch,
                rates,
                now=now,
                sink=lambda d: idempotent_append(spark, d, warehouse, keys=["job_id"]),
            )
        return sent[0]

    first, second = "2022-12-06 14:00:03", "2022-12-06 15:30:00"
    cases = [(0, first, BPI_PAYLOAD_SCHEMA), (20, second, BPI_PAYLOAD_SCHEMA),
             (40, first, BPI_PAYLOAD_MAP_SCHEMA)]
    for start, now, schema in cases:
        land(start, now, schema)  # first use of this key builds its expressions
        assert land(start + 10, now, schema) < REPEAT_CALL_COMMANDS

    got = {r["time_updated_iso"]: r.asDict() for r in spark.read.parquet(warehouse).collect()}
    assert len(got) == 60
    for start, now, schema in cases:
        want = run_pipeline(payloads(start, BPI_PAYLOAD_SCHEMA), rates, now=now).collect()
        want += run_pipeline(payloads(start + 10, BPI_PAYLOAD_SCHEMA), rates, now=now).collect()
        assert [got[r["time_updated_iso"]] for r in want] == [r.asDict() for r in want]
        assert {r["last_updated"] for r in want} == {now}
