"""Seeded benchmark of the crypto-price pipeline package.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

- ``bpi_ingest``: seeded BPI snapshot feed → ``http_poll`` stream →
  ``run_pipeline`` → ``idempotent_append``; one op is one trigger.
- ``corpus_build_serve``: forced artifact rebuilds, then the corpus
  queries that serve from them; one op is one rebuild or one query
  (construct plus materialize).

A run generates its inputs from ``--seed`` into a scratch directory
under ``.perfbench/`` (removed at exit), starts one Spark session sized
to the machine, warms up, then runs whole passes over the workload's
ops, at least ``MIN_PASSES``, until ``--seconds`` have passed. Every
op's output is checked outside the timed region, warm-up ops included:
``attempted`` and ``failed`` count both. The last stdout line is the
result; the line before it holds the run's context (cores, heap, seed,
source digest, host calibration before and after, and the wall time of
every pass and op). ``--trace 1`` reports per-layer metrics instead of
end-to-end ones and writes its spans to ``.perfbench/traces/``.

End-to-end metrics (``--trace 0``) are CPU time: the seconds the
program's processes (this one, the driver JVM and its Python workers)
ran on a core, less the JVM's JIT compiler threads. On a shared host the
wall time of the same run swings by a factor of two or three with the
other tenants' load; CPU time does not count the time the host gives to
them. The wall-time figures are in the context line and, from a traced
run, in the ``wall.*`` per-layer metrics.

- ``setup_s``: CPU time from process start to the end of warm-up, less
  input generation, the DuckDB oracle and the host anchor; one sample
  per run, since the JVM starts once per process.
- ``pass_cpu_s``: median CPU time of one pass (three triggers on
  bpi_ingest, five ops on corpus_build_serve).
- ``op_cpu_ms``: CPU time of a typical op: the geometric mean over op
  kinds of each kind's median, so a change to any one rebuild or query
  moves it (on bpi_ingest, the median trigger).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

import datagen
from procs import CpuMeter, descendants, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "crypto_price_data_pipeline_spark"
WARM_PASSES = 2
CALIBRATION_ROWS = 5_000_000
# The JIT stops at C1. With C2 on a 4-core shared host the compile backlog
# (mostly Spark's own framework code) still took as much CPU as the
# program itself after five passes, and how far it had got set a run's
# CPU per corpus pass anywhere within ±25-50%; with C1 alone, runs close
# in time repeat to a few percent. Generated-code loops run slower than
# under C2, so compute-heavy stages weigh more than in a long-lived
# deployment. The serial collector's CPU time is the collection work
# itself, where parallel collector threads also spin while they wait for
# each other. The compiler threads are fixed at start, so CpuMeter finds
# them all.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads"
)

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    from workloads import CORPUS_ARTIFACTS

    units = {
        "session.get_spark_ms": "ms",
        "host.calibration_ms": "ms",
        "host.peak_rss_mb": "MB",
        "wall.setup_s": "s",
        "wall.pass_s": "s",
        "wall.op_ms": "ms",
        "wall.rows_per_s": "rows/s",
        "queries.construct_ms": "ms",
        "queries.construct_jobs": "count",
        "spark.analysis_ms": "ms",
        "spark.optimization_ms": "ms",
        "spark.planning_ms": "ms",
        "spark.execute_ms": "ms",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_bytes": "B",
        "spark.shuffle_read_bytes": "B",
        "spark.spill_bytes": "B",
        "artifacts.rebuild_ms": "ms",
        **{f"artifacts.rebuild_ms.{a}": "ms" for a in CORPUS_ARTIFACTS},
        "artifacts.bytes_written": "B",
        "streaming.triggers": "count",
        "streaming.trigger_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms",
        "streaming.latest_offset_ms": "ms",
        "pipeline.run_pipeline_ms": "ms",
        "pipeline.gate_violations": "count",
        "io.sinks.idempotent_append_ms": "ms",
        "io.sinks.rows_offered": "count",
        "io.sinks.rows_written": "count",
        "io.sinks.write_ratio": "ratio",
        "io.sinks.warehouse_files": "count",
        "io.sinks.bytes_per_row": "B/row",
        "trace.op_cpu_ms": "ms",
        "trace.overhead_ms": "ms",
    }
    return units


# ------------------------------------------------------------ processes


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    t_end = time.time() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > t_end:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            t_end = time.time() + 30
        time.sleep(0.05)


# ---------------------------------------------------------------- setup


def configure(seed: int, scratch: str) -> dict:
    """Environment the session and its Python workers launch with."""
    nproc = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = "2g" if phys_gb >= 8 else "1g"
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # workers import the package and the seeded fetcher by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_SEED=str(seed),
    )
    tempfile.tempdir = None
    return {
        "nproc": nproc,
        "driver_memory": heap,
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            # C1 only, with a fixed set of compiler threads (see JVM_OPTIONS)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "catalog"),
        },
    }


def calibration_ms(spark, cpus: int) -> float:
    """Fixed range aggregate: tracks the host, not the package."""
    df = spark.range(0, CALIBRATION_ROWS, 1, cpus).selectExpr("sum(id * 2 + 1) AS s")
    t0 = time.perf_counter()
    df.collect()
    return (time.perf_counter() - t0) * 1000


def source_digest() -> str:
    """sha1 over the package sources: identifies the code measured even
    in a checkout that is not a git repository."""
    h = hashlib.sha1()
    for root, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


class SetupClock:
    """Wall and CPU time of set-up, less the spans ``exclude`` covers."""

    def __init__(self, cpu: CpuMeter):
        self.cpu = cpu
        self.t0, self.c0 = time.perf_counter(), cpu()

    @contextmanager
    def exclude(self):
        t, c = time.perf_counter(), self.cpu()
        try:
            yield
        finally:
            self.t0 += time.perf_counter() - t
            self.c0 += self.cpu() - c

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.t0, self.cpu() - self.c0


# -------------------------------------------------------------- metrics


def typical_op_ms(ops: list, attr: str) -> float:
    """Geometric mean over op kinds of each kind's median time, so that
    every kind weighs the same whatever its size (on bpi_ingest, with
    one kind, the median trigger)."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.name, []).append(getattr(o, attr) * 1000)
    return statistics.geometric_mean(statistics.median(v) for v in kinds.values())


def run_workload(args, env: dict, scratch: str, setup: SetupClock) -> tuple[dict, dict]:
    """Set up, warm up, measure and check; returns (result, context)."""
    import check
    import layers
    import workloads as wl

    from crypto_price_data_pipeline_spark.session import get_spark

    data_dir = os.path.join(scratch, "data")
    expected = {}
    if args.workload != "bpi_ingest":
        with setup.exclude():  # the oracle is not the program's set-up
            expected = check.expected(data_dir, check.oracles(wl.CORPUS_QUERIES))
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=env["extra_conf"])
    get_spark_ms = (time.perf_counter() - t) * 1000
    tracer = layers.Tracer(spark, args.trace == 1)
    try:
        with setup.exclude():  # nor is the host anchor
            calibration_ms(spark, env["nproc"])  # the first run compiles the plan
            cal_pre = calibration_ms(spark, env["nproc"])
        run = wl.Run(spark, data_dir, scratch, tracer, expected, args.seed, setup.cpu)
        extra: dict[str, float] = {}
        measure = _measure_ingest if args.workload == "bpi_ingest" else _measure_corpus
        warm, ops, passes, rows, (setup_wall_s, setup_cpu_s) = measure(run, args, setup, extra)
        cal_post = calibration_ms(spark, env["nproc"])
        good = [o for o in ops if o.ok] or ops
        pass_cpu_s = statistics.median(p["cpu_s"] for p in passes)
        op_cpu_ms = typical_op_ms(good, "cpu_s")
        failed = [o for o in warm + ops if not o.ok]
        attempted = len(warm) + len(ops)
        if args.trace:
            per = len(ops) if args.workload == "bpi_ingest" else len(passes)
            extra.update({
                "wall.setup_s": setup_wall_s,
                "wall.pass_s": statistics.median(p["wall_s"] for p in passes),
                "wall.op_ms": typical_op_ms(good, "latency_s"),
                "wall.rows_per_s": rows / sum(p["wall_s"] for p in passes),
                "trace.op_cpu_ms": op_cpu_ms,
            })
            metrics = _layer_metrics(
                tracer, per, get_spark_ms, (cal_pre + cal_post) / 2, extra
            )
            units = per_layer_units()
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_cpu_s,
                "pass_cpu_s": pass_cpu_s,
                "op_cpu_ms": op_cpu_ms,
            }
            units = END_TO_END
        result = {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": env["nproc"],
            "driver_memory": env["driver_memory"],
            "source_sha1": source_digest(),
            "calibration_ms": {"pre": cal_pre, "post": cal_post},
            "setup_wall_s": setup_wall_s,
            "passes": passes,
            "op_ms": {o.op_id: [round(o.latency_s * 1000, 1), round(o.cpu_s * 1000, 1)]
                      for o in ops},
            "error_rate": len(failed) / attempted,
            "failures": [f"{o.op_id}: {o.error}" for o in failed[:5]],
        }
        if args.trace:
            context["self_ms"] = tracer.self_ms()
        tracer.close()
        return result, context
    finally:
        shutdown(spark)


def _measure_corpus(run, args, setup: SetupClock, extra: dict):
    """Warm up with ``WARM_PASSES`` passes, then run whole passes, at
    least ``MIN_PASSES``, for ``--seconds``."""
    import numpy as np

    import workloads as wl

    rng = np.random.default_rng(args.seed)
    warm = [op for j in range(WARM_PASSES) for op in wl.run_pass(run, -j, rng)]
    setup_times = setup.read()
    run.tracer.reset()  # per-layer figures cover the timed passes only
    ops, passes = [], []
    t0 = time.perf_counter()
    while len(passes) < wl.MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        jit0 = run.cpu.read()[1]
        done = wl.run_pass(run, len(passes) + 1, rng)
        # checks excluded: an op's times cover only its own call; jit_s,
        # kept out of cpu_s, shows whether compilation had settled
        passes.append({"wall_s": sum(o.latency_s for o in done),
                       "cpu_s": sum(o.cpu_s for o in done),
                       "jit_s": run.cpu.read()[1] - jit0})
        ops += done
    extra["host.peak_rss_mb"] = peak_rss_mb()
    # every op reads the whole corpus once
    return warm, ops, passes, datagen.N_DOCUMENTS * len(ops), setup_times


def _measure_ingest(run, args, setup: SetupClock, extra: dict):
    """Warm up, run whole passes of triggers for ``--seconds``, stop the
    stream between triggers and check the warehouse."""
    import layers
    import workloads as wl

    spark, tr = run.spark, run.tracer
    ing = wl.Ingest(run, args.seconds, setup)
    ing.start()
    ing.wait(lambda: ing.closed)
    setup_times = ing.setup_times
    extra["host.peak_rss_mb"] = peak_rss_mb()
    ing.query.stop()
    warm, ops = ing.triggers()
    passes = ing.passes()
    problem = ing.check()
    if problem is not None:
        for o in warm + ops:
            o.ok, o.error = False, problem
    if tr.enabled:
        with tr.bookkeeping():
            layers.drain(spark)
            run_id = str(ing.query.runId)
            jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
            for k, v in layers.job_stats(spark, sorted(jobs - ing.warm_jobs)).items():
                tr.add(f"spark.{k}", v)
            window = {int(o.op_id[1:]) for o in ops}
            tr.add_streams(
                p for p in tr.listener.progress
                if p["run_id"] == run_id and p["batch_id"] in window
            )
        for s in tr.spans:
            if s["op"][1:].isdigit() and int(s["op"][1:]) in window:
                key = {"pipeline": "pipeline.run_pipeline_ms",
                       "io.sinks": "io.sinks.idempotent_append_ms"}.get(s["layer"])
                if key:
                    tr.add(key, (s["end"] - s["start"]) * 1000)
        tr.keep({o.op_id for o in ops})
        files = ing.warehouse_files()
        stored = spark.read.parquet(ing.warehouse).count()
        offered = sum(o.rows for o in ops)
        written = sum(ing.written.get(b, 0) for b in window)
        extra["pipeline.gate_violations"] = ing.gate_violations
        tr.add("io.sinks.rows_offered", offered)
        tr.add("io.sinks.rows_written", written)
        extra["io.sinks.write_ratio"] = written / offered if offered else 0.0
        extra["io.sinks.warehouse_files"] = len(files)
        extra["io.sinks.bytes_per_row"] = sum(os.path.getsize(f) for f in files) / stored
    return warm, ops, passes, sum(o.rows for o in ops), setup_times


def _layer_metrics(tracer, per: int, get_spark_ms: float, cal_ms: float,
                   extra: dict) -> dict[str, float]:
    """Per-pass layer totals (per trigger on bpi_ingest); zero for
    layers the workload does not reach."""
    units = per_layer_units()
    out = {k: tracer.totals.get(k, 0.0) / per for k in units}
    out["pipeline.run_pipeline_ms"] -= out["io.sinks.idempotent_append_ms"]
    out.update(extra)
    out["session.get_spark_ms"] = get_spark_ms
    out["host.calibration_ms"] = cal_ms
    out["trace.overhead_ms"] = tracer.overhead_s * 1000 / per
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import workloads
        import crypto_price_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    if args.seconds <= 0:
        parser.error("--seconds must be positive")

    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        env = configure(args.seed, scratch)
        if args.workload != "bpi_ingest":
            datagen.write(args.seed, os.path.join(scratch, "data"))
        # set-up is timed from here: generating the inputs is not the program's work
        result, context = run_workload(args, env, scratch, SetupClock(CpuMeter()))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
