"""``idempotent_append``'s key set: a repeat call reads no table file
(or, for a key with no delta, only the files the previous call
promoted), the delta folds into the base past its cap, a small table
read back starts as a delta, another writer's append is seen, a batch
that fails the gate keeps the key set, and a commit that fails midway
drops it so the replay lands each row once."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.io import sinks
from crypto_price_data_pipeline_spark.pipeline import BPI_PAYLOAD_SCHEMA, ValidationError, run_pipeline
from crypto_price_data_pipeline_spark.streaming.http_source import default_fetch


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


def _append_reading(spark, df, path, keys=("job_id",)):
    """(rows written, bytes of table files read) of one append. A small
    parquet file's footer is read twice, by the scan's planning and by
    its reader, so a read of some files can exceed their size."""
    before = _bytes_read(spark)
    n = sinks.idempotent_append(spark, df, path, keys=list(keys))
    return n, _bytes_read(spark) - before


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).select("id").collect())


def test_repeat_call_reads_only_the_files_it_promoted(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "warehouse")
    _rows(spark, 0, 2000).repartition(200).write.parquet(wh)
    files = set(_data_files(wh))
    assert len(files) == 200

    # the first call has no key set yet: it reads every file's keys and
    # folds them with the keys of the files it promoted
    n, scanned = _append_reading(spark, _rows(spark, 1990, 2010), wh)
    assert n == 10 and scanned > 0
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    promoted = set(_data_files(wh)) - files
    # the next call's broadcast computes that fold, reading just those files
    n, read = _append_reading(spark, _rows(spark, 2005, 2020), wh)
    assert n == 10
    assert 0 < read <= sum(os.path.getsize(f) for f in promoted)
    assert read * 100 < scanned
    for lo in (2020, 2030):
        n, read = _append_reading(spark, _rows(spark, lo - 5, lo + 10), wh)
        assert n == 10
        # the keys committed since the fold are checked in the write's
        # own plan, and each commit's keys come from the write's
        # observation: no table file is read
        assert read == 0
    # past the cap the commit folds the delta and the files it promoted
    # into the base: the next call's broadcast reads just those files
    monkeypatch.setattr(sinks, "_DELTA_CAP", 25)
    files = set(_data_files(wh))
    n, read = _append_reading(spark, _rows(spark, 2035, 2050), wh)
    assert n == 10 and read == 0
    assert sinks._KEY_SETS[memo_key][1] == frozenset()  # folded
    folded = set(_data_files(wh)) - files
    n, read = _append_reading(spark, _rows(spark, 2045, 2060), wh)
    assert n == 10
    assert 0 < read <= sum(os.path.getsize(f) for f in folded)
    assert read * 100 < scanned
    n, read = _append_reading(spark, _rows(spark, 2055, 2070), wh)
    assert n == 10 and read == 0
    assert len(sinks._KEY_SETS[memo_key][1]) == 20
    assert _ids(spark, wh) == list(range(2070))


def test_repeat_call_on_a_long_key_reads_only_the_files_it_promoted(spark, tmp_path):
    """A key that is not one string column has no delta: each commit
    folds the promoted files' keys into the base, and the next call's
    broadcast reads just those files."""
    wh = str(tmp_path / "warehouse")
    _rows(spark, 0, 2000).repartition(200).write.parquet(wh)
    files = set(_data_files(wh))

    n, scanned = _append_reading(spark, _rows(spark, 1990, 2010), wh, keys=["id"])
    assert n == 10
    previous = set(_data_files(wh)) - files
    for lo in (2010, 2020, 2030):
        files = set(_data_files(wh))
        n, read = _append_reading(spark, _rows(spark, lo - 5, lo + 10), wh, keys=["id"])
        assert n == 10
        assert 0 < read <= 2 * sum(os.path.getsize(f) for f in previous) < scanned
        previous = set(_data_files(wh)) - files
    assert _ids(spark, wh) == list(range(2040))


def test_another_writers_append_is_seen(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 10
    assert sinks.idempotent_append(spark, _rows(spark, 10, 20), wh, keys=["job_id"]) == 10
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    fs, root = sinks._hadoop_path(spark, wh)
    assert sinks._KEY_SETS[memo_key][2] == sinks._summary(fs, root)
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
    assert sinks._KEY_SETS[memo_key][2] == sinks._summary(fs, root)


def _payloads(spark, lo, hi, updated=None):
    """BPI payloads of ticks ``lo..hi-1``; ``updated`` replaces each
    one's ``time.updated``, which the job id does not hash."""
    raw = []
    for p in default_fetch(lo, hi):
        p = json.loads(p)
        p["time"]["updated"] = updated or p["time"]["updated"]
        raw.append((json.dumps(p),))
    return spark.createDataFrame(raw, "value string").select(
        F.from_json("value", BPI_PAYLOAD_SCHEMA).alias("p")
    ).select("p.*")


@pytest.mark.parametrize("tier", ["delta", "base"])
def test_gate_sees_every_offered_row_and_keeps_the_key_set(spark, tmp_path, monkeypatch, tier):
    """A row that fails the gate raises ``ValidationError`` even when its
    key is already in the table, so the key check would drop it: the
    gate runs before ``dropDuplicates`` and the key checks. Nothing is
    promoted, the key set is kept as it was (no rescan), and the next
    good call runs as a repeat call does."""
    if tier == "base":
        monkeypatch.setattr(sinks, "_DELTA_CAP", 2)
    rates = spark.createDataFrame(
        [("USD", "IDR", "2022-12-06", 15650.25)],
        "from_ccy string, to_ccy string, rate_date string, rate double",
    ).withColumn("rate_date", F.to_date("rate_date"))
    wh = str(tmp_path / "warehouse")

    def sink(d):
        sinks.idempotent_append(spark, d, wh, keys=["job_id"])

    def land(payloads, tag):
        """The Spark jobs of one ``run_pipeline`` into the warehouse."""
        return _jobs(spark, tag, lambda: run_pipeline(payloads, rates, now="2022-12-06 14:00:00", sink=sink))[1]

    land(_payloads(spark, 0, 10), f"first-{tmp_path.name}")
    land(_payloads(spark, 10, 20), f"second-{tmp_path.name}")
    base, delta, _ = _entry(wh)
    assert (base is None, len(delta)) == ((True, 20) if tier == "delta" else (False, 0))
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    entry, files = sinks._KEY_SETS[memo_key], _data_files(wh)
    fs, root = sinks._hadoop_path(spark, wh)
    # tick 15's key is in the table (in the delta, or in the base); the
    # last batch also offers it twice, so dropDuplicates keeps one row
    garbage = _payloads(spark, 15, 16, updated="garbage")
    for bad in (garbage, _payloads(spark, 20, 25).unionByName(garbage),
                _payloads(spark, 15, 16).unionByName(garbage)):
        with pytest.raises(ValidationError, match="time_updated=NULL"):
            land(bad, f"bad-{tmp_path.name}")
        assert sinks._KEY_SETS[memo_key] is entry
        assert _data_files(wh) == files
        assert not [f for f in os.listdir(wh) if f.startswith("_staging-")]
        assert entry[2] == sinks._summary(fs, root)  # so the next call takes it
    # a base adds its broadcast job
    assert land(_payloads(spark, 20, 30), f"next-{tmp_path.name}") == 2 + (tier == "base")
    assert len(spark.read.parquet(wh).collect()) == 30


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


def _entry(wh):
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    return sinks._KEY_SETS[memo_key]


def test_appends_across_folds_land_every_row_once(spark, tmp_path, monkeypatch):
    """With the cap at 4, overlapping batches cross several folds: every
    call lands just its new rows, the base and the delta together hold
    the table's keys, and no key is in the base twice or in both."""
    monkeypatch.setattr(sinks, "_DELTA_CAP", 4)
    wh = str(tmp_path / "warehouse")
    folds = 0
    for lo in range(0, 30, 3):
        assert sinks.idempotent_append(spark, _rows(spark, max(lo - 2, 0), lo + 3), wh, keys=["job_id"]) == 3
        base, delta, _ = _entry(wh)
        assert len(delta) <= 4
        folds += not delta
        in_base = [r["job_id"] for r in base.collect()] if base is not None else []
        assert len(in_base) == len(set(in_base))
        assert not set(in_base) & delta
        table = {r["job_id"] for r in spark.read.parquet(wh).select("job_id").collect()}
        assert set(in_base) | delta == table
    assert folds >= 4
    assert _ids(spark, wh) == list(range(30))


def test_null_key_rows_append_as_before(spark, tmp_path, monkeypatch):
    """A row with a NULL key passes the delta check, as it passes the
    anti-join: each replay appends it again, with or without a base."""
    wh = str(tmp_path / "warehouse")
    batch = _rows(spark, 0, 3).unionByName(
        spark.range(3, 4).select(F.lit(None).cast("string").alias("job_id"), "id", F.lit("x").alias("p"))
    )
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == 4
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == 1  # delta only
    assert _entry(wh)[0] is None
    monkeypatch.setattr(sinks, "_DELTA_CAP", 1)
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == 1  # folds
    assert _entry(wh)[0] is not None and not _entry(wh)[1]
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == 1  # base only
    assert _ids(spark, wh) == [0, 1, 2, 3, 3, 3, 3]


_ODD_KEYS = ["", "\ue000", "x\ue001", "\n", "\\", "$", "(", ",", "|", "é", "\U0001F600"]


def test_odd_keys_round_trip_and_separator_keys_fold(spark, tmp_path, monkeypatch):
    """Keys holding regex metacharacters, an empty string and a
    non-BMP character cross to the JVM exactly: the replay lands
    nothing, before and after a fold. A commit whose keys hold the
    separator folds them into the base, whatever the cap."""
    wh = str(tmp_path / "warehouse")
    batch = spark.createDataFrame([(k, i) for i, k in enumerate(_ODD_KEYS)], "job_id string, id long")
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == len(_ODD_KEYS)
    assert _entry(wh)[1] == frozenset(_ODD_KEYS)
    assert sinks.idempotent_append(spark, batch, wh, keys=["job_id"]) == 0
    sep = spark.createDataFrame([("\x1f", 90), ("a\x1fb", 91)], "job_id string, id long")
    assert sinks.idempotent_append(spark, sep, wh, keys=["job_id"]) == 2  # folds
    base, delta, _ = _entry(wh)
    assert delta == frozenset()
    assert sorted(r["job_id"] for r in base.collect()) == sorted([*_ODD_KEYS, "\x1f", "a\x1fb"])
    assert sinks.idempotent_append(spark, batch.unionByName(sep), wh, keys=["job_id"]) == 0
    monkeypatch.setattr(sinks, "_DELTA_CAP", 4)
    more = spark.createDataFrame([(k + "!", 100 + i) for i, k in enumerate(_ODD_KEYS)], "job_id string, id long")
    assert sinks.idempotent_append(spark, more.limit(3), wh, keys=["job_id"]) == 3  # delta
    assert sinks.idempotent_append(spark, more, wh, keys=["job_id"]) == len(_ODD_KEYS) - 3  # folds
    everything = batch.unionByName(sep).unionByName(more)
    assert sinks.idempotent_append(spark, everything, wh, keys=["job_id"]) == 0
    keys = sorted(r["job_id"] for r in everything.collect())
    assert sorted(r["job_id"] for r in _entry(wh)[0].collect()) == keys
    assert sorted(r["job_id"] for r in spark.read.parquet(wh).collect()) == keys


def test_batch_past_the_cap_folds_without_collecting_its_keys(spark, tmp_path, monkeypatch):
    """A batch of more rows than the cap gets no key list back from the
    write's observation: it folds, reading its keys from its files."""
    monkeypatch.setattr(sinks, "_DELTA_CAP", 4)
    seen = []

    class Recording(sinks.Observation):
        @property
        def get(self):
            metrics = super().get
            seen.append(metrics)
            return metrics

    monkeypatch.setattr(sinks, "Observation", Recording)
    wh = str(tmp_path / "warehouse")
    assert sinks.idempotent_append(spark, _rows(spark, 0, 3), wh, keys=["job_id"]) == 3
    assert len(seen[-1]["keys"]) == 3 and len(_entry(wh)[1]) == 3
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 7
    assert seen[-1]["keys"] is None
    base, delta, _ = _entry(wh)
    assert delta == frozenset()
    assert sorted(r["job_id"] for r in base.collect()) == sorted(r["job_id"] for r in _rows(spark, 0, 10).collect())
    assert sinks.idempotent_append(spark, _rows(spark, 0, 12), wh, keys=["job_id"]) == 2
    assert _ids(spark, wh) == list(range(12))


def _jobs(spark, tag, fn):
    """(``fn()``, Spark jobs it ran); ``tag`` names the job group, one
    per call."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _append_jobs(spark, tag, df, path):
    """(rows written, Spark jobs run) of one append on ``job_id``."""
    return _jobs(spark, tag, lambda: sinks.idempotent_append(spark, df, path, keys=["job_id"]))


def test_rescanned_small_table_takes_the_delta(spark, tmp_path):
    """A table this sink did not write, of at most the cap of keys, is
    read into the delta: no base, and the next call runs two jobs."""
    wh = str(tmp_path / "warehouse")
    seeded = _rows(spark, 0, 100).unionByName(
        spark.range(100, 101).select(F.lit(None).cast("string").alias("job_id"), "id", F.lit("x").alias("p"))
    )
    seeded.repartition(10).write.parquet(wh)
    assert sinks.idempotent_append(spark, _rows(spark, 95, 105), wh, keys=["job_id"]) == 5
    base, delta, _ = _entry(wh)
    assert base is None
    assert delta == {r["job_id"] for r in _rows(spark, 0, 105).collect()}
    assert _append_jobs(spark, f"small-{tmp_path.name}", _rows(spark, 100, 110), wh) == (5, 2)
    assert sinks.idempotent_append(spark, _rows(spark, 105, 115), wh, keys=["job_id"]) == 5
    assert _ids(spark, wh) == sorted([*range(115), 100])  # the NULL-key row is id 100


def test_repeat_call_runs_two_jobs(spark, tmp_path):
    """Under the cap a repeat call has no base to broadcast: it runs the
    dropDuplicates shuffle's map stage and the staged write."""
    wh = str(tmp_path / "warehouse")
    for lo in (0, 10):
        sinks.idempotent_append(spark, _rows(spark, lo, lo + 10), wh, keys=["job_id"])
    assert _append_jobs(spark, f"repeat-{tmp_path.name}", _rows(spark, 15, 30), wh) == (10, 2)


def _write_plan_sizes(spark, since):
    """(execution id, characters) of the plan text that the SQL status
    store keeps for every write execution after ``since``: the physical
    plan description and the plan graph's node descriptions."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > since:
            plan = e.physicalPlanDescription()
            if "InsertIntoHadoopFsRelationCommand" in plan:
                nodes = store.planGraph(e.executionId()).allNodes()
                graph = sum(len(nodes.apply(j).desc()) for j in range(nodes.size()))
                out.append((e.executionId(), len(plan) + graph))
    return out


def test_write_plan_stays_bounded_by_the_cap(spark, tmp_path):
    """After ten times the cap of keys, the plan text stored for each
    write is bounded by the cap: the delta check lists at most
    ``_DELTA_CAP`` keys, never the whole table."""
    cap, wh = sinks._DELTA_CAP, str(tmp_path / "warehouse")
    chunk = cap - 24
    sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"])
    since, bare = _write_plan_sizes(spark, -1)[-1]
    for lo in range(10, 10 * cap, chunk):
        sinks.idempotent_append(spark, _rows(spark, lo, lo + chunk), wh, keys=["job_id"])
    sizes = _write_plan_sizes(spark, since)
    assert len(sizes) == len(range(10, 10 * cap, chunk))
    # a checked key is listed at most 5 times (twice, and three more with
    # a base), as 32 hex digits and a separator; a plan with a base has
    # more nodes, but not twice the first write's text
    assert max(n for _, n in sizes) < 2 * bare + 5 * cap * (32 + 2)
    assert spark.read.parquet(wh).count() == 10 + len(sizes) * chunk


def test_scanned_base_is_kept_as_one_partition(spark, tmp_path, monkeypatch):
    """A base scanned from a table of many files (more keys than the
    cap) is folded into one partition before it is kept, also by a call
    that writes no row, so each later broadcast runs it as one task, not
    one per file split."""
    monkeypatch.setattr(sinks, "_DELTA_CAP", 100)
    wh = str(tmp_path / "warehouse")
    _rows(spark, 0, 500).repartition(50).write.parquet(wh)
    scan = sinks._read_keys(spark, _rows(spark, 0, 1).select("job_id").schema, wh)
    assert scan._jdf.rdd().getNumPartitions() > 1
    assert sinks.idempotent_append(spark, _rows(spark, 0, 10), wh, keys=["job_id"]) == 0
    assert _entry(wh)[0]._jdf.rdd().getNumPartitions() == 1
    (memo_key,) = [k for k in sinks._KEY_SETS if k[1].endswith(wh)]
    del sinks._KEY_SETS[memo_key]  # the next call scans again
    assert sinks.idempotent_append(spark, _rows(spark, 495, 505), wh, keys=["job_id"]) == 5
    assert _entry(wh)[0]._jdf.rdd().getNumPartitions() == 1
    assert _ids(spark, wh) == list(range(505))
