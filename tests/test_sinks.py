"""``idempotent_append``'s key set: a repeat call reads only the files
the previous call promoted, another writer's append is seen, and a
commit that fails midway drops the key set so the replay lands each row
once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.io import sinks


def _rows(spark, lo, hi, parts=("x",)):
    """Rows ``lo..hi-1`` keyed on md5(id), spread over partition values ``parts``."""
    p = F.element_at(F.array(*[F.lit(v) for v in parts]), (F.col("id") % len(parts) + 1).cast("int"))
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("job_id"), "id", p.alias("p")
    )


def _data_files(path):
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _bytes_read(spark):
    """Bytes read so far through Hadoop's local file system in this JVM."""
    stats = spark._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get("file")
    return stats.getLong("bytesRead") if stats is not None else 0


def _append_reading(spark, df, path):
    """(rows written, bytes of table files read) of one append."""
    before = _bytes_read(spark)
    n = sinks.idempotent_append(spark, df, path, keys=["job_id"])
    return n, _bytes_read(spark) - before


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).select("id").collect())


def test_repeat_call_reads_only_the_files_it_promoted(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    _rows(spark, 0, 2000).repartition(200).write.parquet(wh)
    files = set(_data_files(wh))
    assert len(files) == 200

    # the first call has no key set yet: it reads every file's keys
    n, scanned = _append_reading(spark, _rows(spark, 1990, 2010), wh)
    assert n == 10
    previous = set(_data_files(wh)) - files
    for lo in (2010, 2020, 2030):
        files = set(_data_files(wh))
        n, read = _append_reading(spark, _rows(spark, lo - 5, lo + 10), wh)
        assert n == 10
        # the key set already held the rest of the table: only the files
        # the previous call promoted were read
        assert 0 < read <= sum(os.path.getsize(f) for f in previous)
        assert read * 100 < scanned
        previous = set(_data_files(wh)) - files
    assert _ids(spark, wh) == list(range(2040))


def test_another_writers_append_is_seen(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 10
    assert sinks.idempotent_append(spark, _rows(spark, 10, 20), wh, keys=["job_id"]) == 10
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    fs, root = sinks._hadoop_path(spark, wh)
    assert sinks._KEY_SETS[memo_key][1] == sinks._summary(fs, root)
    # a plain append by another writer, between two calls of this sink
    sinks.append_parquet(_rows(spark, 20, 25), wh)
    assert sinks.idempotent_append(spark, _rows(spark, 15, 30), wh, keys=["job_id"]) == 5
    assert _ids(spark, wh) == list(range(30))


def test_failed_promote_drops_the_key_set_and_replay_lands_once(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "warehouse")
    first = _rows(spark, 0, 10, parts=("x", "y"))
    assert sinks.idempotent_append(spark, first, wh, keys=["job_id"], partition_by=["p"]) == 10
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]

    promote, renamed = sinks._promote, []

    class FailAfterFirstRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dest):
            if renamed:
                raise OSError("crash between the renames")
            renamed.append(dest)
            return self._fs.rename(src, dest)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def failing_promote(fs, src, dest):  # _promote recurses into k=v/ through the module
        if not isinstance(fs, FailAfterFirstRename):
            fs = FailAfterFirstRename(fs)
        return promote(fs, src, dest)

    monkeypatch.setattr(sinks, "_promote", failing_promote)
    batch = _rows(spark, 5, 25, parts=("x", "y"))
    with pytest.raises(OSError, match="between the renames"):
        sinks.idempotent_append(spark, batch, wh, keys=["job_id"], partition_by=["p"])
    assert len(renamed) == 1 and memo_key not in sinks._KEY_SETS
    monkeypatch.setattr(sinks, "_promote", promote)

    landed = _ids(spark, wh)
    assert 10 < len(landed) < 25  # part of the batch is committed
    # the replay rescans the table and appends only the rows still missing
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"], partition_by=["p"]) == 25 - len(landed)
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"], partition_by=["p"]) == 0
    assert _ids(spark, wh) == list(range(25))
    # the summary recorded for the replay's commit (worked out from the
    # staged files and the k=v/ directories made) is the table's own
    more = _rows(spark, 25, 30, parts=("x", "y", "z"))
    assert sinks.idempotent_append(spark, more, wh, keys=["job_id"], partition_by=["p"]) == 5
    fs, root = sinks._hadoop_path(spark, wh)
    assert sinks._KEY_SETS[memo_key][1] == sinks._summary(fs, root)


def test_failing_pre_commit_check_promotes_nothing(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 10
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    entry, files = sinks._KEY_SETS[memo_key], sorted(os.listdir(wh))

    def check():
        raise RuntimeError("gate failed")

    with pytest.raises(RuntimeError, match="gate failed"), sinks.pre_commit(check):
        sinks.idempotent_append(spark, _rows(spark, 10, 20), wh, keys=["job_id"])
    # no staging left, no file promoted, the key set as it was
    assert sorted(os.listdir(wh)) == files
    assert sinks._KEY_SETS[memo_key] is entry
    assert sinks.idempotent_append(spark, _rows(spark, 10, 20), wh, keys=["job_id"]) == 10
    assert _ids(spark, wh) == list(range(20))


def test_concurrent_appends_leave_no_stale_key_set(spark, tmp_path):
    """Writers appending disjoint keys to one table at once: every row
    lands, and a key set recorded by any of them still covers the rows
    the others committed meanwhile, so replaying every batch afterwards
    appends nothing."""
    import sys
    import threading

    wh = str(tmp_path / "warehouse")
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 10
    batches = [_rows(spark, lo, lo + 10) for lo in range(10, 130, 10)]
    errors = []

    def write(mine):
        try:
            for b in mine:
                sinks.idempotent_append(spark, b, wh, keys=["job_id"])
        except Exception as e:  # reported below, with the thread's batches
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=write, args=(batches[i::6],)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and not errors
    assert _ids(spark, wh) == list(range(130))
    for b in batches:
        assert sinks.idempotent_append(spark, b, wh, keys=["job_id"]) == 0
    assert _ids(spark, wh) == list(range(130))
