"""The workloads: what one op is, how a pass runs, how outputs are checked.

Every workload is a closed loop with one client: the next op starts only
after the previous one has returned its result.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import feed
import layers
from check import canonical

# rebuilt in this order every pass: minhash_mins derives from minhash_base
CORPUS_ARTIFACTS = ["minhash_base", "minhash_mins"]
CORPUS_QUERIES = ["q_minhash_pairs", "q_word_freq", "q_dedup_exact"]
# medians need more than one pass, whatever --seconds is
MIN_PASSES = 2
WORKLOADS = ["bpi_ingest", "corpus_build_serve"]


@dataclass
class Op:
    """One timed op and what it returned."""

    op_id: str
    name: str
    latency_s: float = 0.0
    cpu_s: float = 0.0
    rows: int = 0
    ok: bool = True
    error: str | None = None


@dataclass
class Run:
    """State shared by the ops of one benchmark run."""

    spark: object
    data_dir: str
    scratch: str
    tracer: layers.Tracer
    expected: dict[str, tuple]  # query name -> canonical oracle answer
    seed: int
    cpu: object  # procs.CpuMeter
    artifact_rows: dict[str, int] = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _new_artifact_dir(name: str, before: set[str]) -> str | None:
    tmp = os.environ["TMPDIR"]
    fresh = [
        d for d in os.listdir(tmp) if d.startswith(f"artifact_{name}_") and d not in before
    ]
    return os.path.join(tmp, fresh[0]) if len(fresh) == 1 else None


def run_query(run: Run, op: Op) -> None:
    from crypto_price_data_pipeline_spark.queries import QUERIES

    spark, tr = run.spark, run.tracer
    sc = spark.sparkContext
    if tr.enabled:
        sc.setJobGroup(f"{op.op_id}.construct", op.name)
    c0 = run.cpu()
    with tr.span("op", op.op_id):
        t0 = time.perf_counter()
        with tr.span("queries", op.op_id):
            df = QUERIES[op.name](spark, run.data_dir)
        t1 = time.perf_counter()
        if tr.enabled:
            sc.setJobGroup(f"{op.op_id}.execute", op.name)
        with tr.span("spark", op.op_id):
            rows = df.collect()
        t2 = time.perf_counter()
    op.cpu_s = run.cpu() - c0
    op.latency_s = t2 - t0
    if tr.enabled:
        with tr.bookkeeping():
            sc.setJobGroup(f"{op.op_id}.check", "untimed")
            layers.drain(spark)
            tracker = sc.statusTracker()
            construct = list(tracker.getJobIdsForGroup(f"{op.op_id}.construct"))
            execute = list(tracker.getJobIdsForGroup(f"{op.op_id}.execute"))
            tr.add("queries.construct_ms", (t1 - t0) * 1000)
            tr.add("queries.construct_jobs", len(construct))
            tr.add("spark.execute_ms", (t2 - t1) * 1000)
            for k, v in layers.job_stats(spark, construct + execute).items():
                tr.add(f"spark.{k}", v)
            for k, v in layers.phases_ms(df).items():
                tr.add(f"spark.{k}_ms", v)
    got = canonical(df.columns, [tuple(r) for r in rows])
    if got != run.expected[op.name]:
        op.ok, op.error = False, "result differs from the DuckDB oracle"


def run_rebuild(run: Run, op: Op) -> None:
    from crypto_price_data_pipeline_spark import artifacts

    spark, tr = run.spark, run.tracer
    before = set(os.listdir(os.environ["TMPDIR"]))
    if tr.enabled:
        spark.sparkContext.setJobGroup(f"{op.op_id}.rebuild", op.name)
    c0 = run.cpu()
    with tr.span("op", op.op_id), tr.span("artifacts", op.op_id):
        t0 = time.perf_counter()
        artifacts.rebuild(spark, run.data_dir, op.name)
        op.latency_s = time.perf_counter() - t0
    op.cpu_s = run.cpu() - c0
    path = _new_artifact_dir(op.name, before)
    if tr.enabled:
        with tr.bookkeeping():
            spark.sparkContext.setJobGroup(f"{op.op_id}.check", "untimed")
            layers.drain(spark)
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(f"{op.op_id}.rebuild")
            for k, v in layers.job_stats(spark, list(jobs)).items():
                tr.add(f"spark.{k}", v)
            tr.add("artifacts.rebuild_ms", op.latency_s * 1000)
            tr.add(f"artifacts.rebuild_ms.{op.name}", op.latency_s * 1000)
            tr.add("artifacts.bytes_written", _dir_bytes(path) if path else 0)
    # an artifact is the same table on every rebuild of one corpus; rows
    # are read from the parquet footers, so the check runs no Spark job
    op.rows = sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _, files in os.walk(path or "")
        for f in files
        if f.endswith(".parquet")
    )
    first = run.artifact_rows.setdefault(op.name, op.rows)
    if op.rows == 0 or op.rows != first:
        op.ok, op.error = False, f"artifact rows {op.rows}, first build {first}"


def run_pass(run: Run, pass_no: int, rng) -> list[Op]:
    """One corpus pass: rebuild the artifacts in dependency order, then
    run the queries that serve from them in a seed-shuffled order."""
    order = [("rebuild", a) for a in CORPUS_ARTIFACTS]
    order += [("query", q) for q in rng.permutation(CORPUS_QUERIES)]
    ops = []
    for i, (kind, name) in enumerate(order):
        op = Op(f"p{pass_no}.{i}.{name}", str(name))
        try:
            (run_rebuild if kind == "rebuild" else run_query)(run, op)
        except Exception as e:  # an op that raises is a failed op; the run goes on
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
        ops.append(op)
    return ops


# ---------------------------------------------------------------- ingest

TICKS_PER_TRIGGER = 10
WARM_TRIGGERS = 6
TRIGGERS_PER_PASS = 3
NOW = "2022-12-06 00:00:00"
WALL_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")


@dataclass
class Ingest:
    """The BPI poll → run_pipeline → idempotent_append stream of one run."""

    run: Run
    seconds: float
    setup: object  # run.SetupClock, read when warm-up ends
    query: object = None
    rates: dict = field(default_factory=dict)
    # batch id -> (start, end) of the foreachBatch call, for triggers that did work
    done: dict[int, tuple[float, float]] = field(default_factory=dict)
    closed: bool = False
    gate_violations: int = 0
    written: dict[int, int] = field(default_factory=dict)
    warm_jobs: set = field(default_factory=set)
    # batch id -> the run's CPU seconds when its foreachBatch call ended
    cpu: dict[int, float] = field(default_factory=dict)
    setup_times: tuple[float, float] | None = None

    @property
    def warehouse(self) -> str:
        return os.path.join(self.run.scratch, "warehouse")

    def start(self) -> None:
        from pyspark.sql import functions as F

        from crypto_price_data_pipeline_spark.io.sinks import idempotent_append
        from crypto_price_data_pipeline_spark.pipeline.pipeline import run_pipeline
        from crypto_price_data_pipeline_spark.pipeline.schema import (
            BPI_PAYLOAD_SCHEMA,
            FX_RATES_SCHEMA,
        )
        from crypto_price_data_pipeline_spark.pipeline.validate import ValidationError
        from crypto_price_data_pipeline_spark.streaming.http_source import register

        spark, tr = self.run.spark, self.run.tracer
        register(spark)
        rows = feed.rate_rows(60, self.run.seed)
        self.rates = {d: r for _, _, d, r in rows}
        rates = spark.createDataFrame(rows, FX_RATES_SCHEMA)
        payloads = (
            spark.readStream.format("http_poll")
            .option("ticksPerBatch", str(TICKS_PER_TRIGGER))
            .option("fetcher", "feed:fetch")
            .load()
            .select(F.from_json("value", BPI_PAYLOAD_SCHEMA).alias("p"))
            .select("p.*")
        )

        def batch(df, batch_id: int) -> None:
            if self._closing(batch_id):
                return
            t0 = time.perf_counter()

            def sink(d):
                with tr.span("io.sinks", f"t{batch_id}"):
                    self.written[batch_id] = idempotent_append(
                        spark, d, self.warehouse, keys=["job_id"]
                    )

            try:
                with tr.span("op", f"t{batch_id}"), tr.span("pipeline", f"t{batch_id}"):
                    run_pipeline(df, rates, now=NOW, sink=sink)
            except ValidationError:
                self.gate_violations += 1
                raise
            self.done[batch_id] = (t0, time.perf_counter())
            self.cpu[batch_id] = self.run.cpu()
            if batch_id == WARM_TRIGGERS - 1:  # warm-up ends with this trigger
                self.setup_times = self.setup.read()
                if tr.enabled:  # untimed: still warm-up
                    layers.drain(spark)
                    tracker = spark.sparkContext.statusTracker()
                    self.warm_jobs = set(tracker.getJobIdsForGroup(str(self.query.runId)))

        self.query = (
            payloads.writeStream.foreachBatch(batch)
            .option("checkpointLocation", os.path.join(self.run.scratch, "ingest_ckpt"))
            .start()
        )

    def _closing(self, batch_id: int) -> bool:
        """True from the first pass boundary after ``MIN_PASSES`` passes
        and ``seconds`` of timed triggers: later triggers do no work, so
        stopping the query never cuts a write in half."""
        k = batch_id - WARM_TRIGGERS
        at_boundary = k >= MIN_PASSES * TRIGGERS_PER_PASS and k % TRIGGERS_PER_PASS == 0
        if not self.closed and at_boundary:
            t0 = self.done[WARM_TRIGGERS - 1][1]
            self.closed = time.perf_counter() - t0 >= self.seconds
        return self.closed

    def wait(self, until, timeout_s: float = 150.0) -> None:
        t_end = time.perf_counter() + timeout_s
        while not until():
            if self.query.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {self.query.exception()}")
            if time.perf_counter() > t_end:
                raise TimeoutError(f"ingest stream made {len(self.done)} triggers")
            time.sleep(0.01)

    def passes(self) -> list[dict[str, float]]:
        """Wall and CPU time of each timed pass of ``TRIGGERS_PER_PASS``
        triggers, from the end of one pass's last foreachBatch call to
        the end of the next's."""
        n = (max(self.done) + 1 - WARM_TRIGGERS) // TRIGGERS_PER_PASS
        ends = [WARM_TRIGGERS - 1 + TRIGGERS_PER_PASS * j for j in range(n + 1)]
        return [
            {"wall_s": self.done[b][1] - self.done[a][1], "cpu_s": self.cpu[b] - self.cpu[a]}
            for a, b in zip(ends, ends[1:])
        ]

    def triggers(self) -> tuple[list[Op], list[Op]]:
        """The warm-up and the timed triggers as ops, from the query's own
        progress records."""
        progress = {p.batchId: p for p in self.query.recentProgress}
        ops = []
        for b in sorted(self.done):
            p = progress.get(b)
            op = Op(f"t{b}", "bpi_trigger")
            if p is None:
                op.ok, op.error = False, "no progress record"
            else:
                op.latency_s = p.durationMs["triggerExecution"] / 1000
                op.rows = p.numInputRows
            if b - 1 in self.cpu:
                op.cpu_s = self.cpu[b] - self.cpu[b - 1]
            ops.append(op)
        return ops[:WARM_TRIGGERS], ops[WARM_TRIGGERS:]

    def check(self) -> str | None:
        """Warehouse invariants after the stream stopped; None if all hold."""
        if self.gate_violations:
            return f"{self.gate_violations} batches failed the expectation gate"
        last = max(self.done)
        if sorted(self.done) != list(range(last + 1)):
            return "a trigger before the end of the run did no work"
        s = self.run.seed
        polled = {feed.minute(i, s) for i in range((last + 1) * TICKS_PER_TRIGGER)}
        rows = self.run.spark.read.parquet(self.warehouse).collect()
        if len(rows) != len(polled):
            return f"warehouse has {len(rows)} rows for {len(polled)} distinct snapshots"
        if len({r["job_id"] for r in rows}) != len(rows):
            return "duplicate job_id in the warehouse"
        for r in rows:
            day = dt.datetime.strptime(r["time_updated_iso"], "%Y-%m-%d %H:%M:%S").date()
            if r["bpi_idr_rate_float"] != r["bpi_usd_rate_float"] * self.rates[day]:
                return f"bpi_idr_rate_float wrong for {r['time_updated_iso']}"
            if not all(WALL_RE.match(r[c] or "") for c in
                       ("time_updated", "time_updated_iso", "last_updated")):
                return f"malformed timestamp string in {r['job_id']}"
        return None

    def warehouse_files(self) -> list[str]:
        return [
            os.path.join(root, f)
            for root, _, files in os.walk(self.warehouse)
            for f in files
            if f.endswith(".parquet")
        ]
