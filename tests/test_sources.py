"""io.sources.load_table: the per-table schema memo sees a rewritten
table, and every session it reads through gets the engine's confs."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR as SF


def test_load_table_sees_rewritten_file_table(spark, tmp_path):
    from crypto_price_data_pipeline_spark.io.sources import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [3.5]}), path)
    out = load_table(spark, str(tmp_path), "t")
    assert out.columns == ["c"]
    assert [r["c"] for r in out.collect()] == [3.5]


def test_load_table_sees_rewritten_directory_table(spark, tmp_path):
    from crypto_price_data_pipeline_spark.io.sources import load_table

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    spark.createDataFrame([(2.5, 7)], "c double, d int").write.mode(
        "overwrite"
    ).parquet(path)
    out = load_table(spark, str(tmp_path), "t")
    assert out.columns == ["c", "d"]
    assert [tuple(r) for r in out.collect()] == [(2.5, 7)]


def test_new_session_gets_confs_on_first_load_table(spark):
    """The confs are set once per live session, keyed on its UUID: a
    session from ``newSession()`` has its own conf, so its first
    load_table must still set UTC, no NTZ inference and nanos-as-long."""
    from pyspark.sql import types as T

    from crypto_price_data_pipeline_spark.io.sources import load_table

    load_table(spark, SF, "events")
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    events = load_table(other, SF, "events")
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
    assert other.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false"
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert isinstance(events.schema["ts"].dataType, T.TimestampType)
