"""Per-layer observation for traced runs.

Everything here reads Spark's own status from outside the program:
job groups through ``statusTracker``, stage metrics from the status
store, the Catalyst phase tracker of a plan's ``queryExecution`` and
``StreamingQueryProgress.durationMs`` through a
``StreamingQueryListener``. Spans are kept in memory and written once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def drain(spark) -> None:
    """Wait until the listener bus has delivered every queued event, so
    the status store and stream listeners have seen all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_stats(spark, job_ids: list[int]) -> dict[str, float]:
    """Jobs, tasks run, shuffle bytes and spill of the given jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore().store()
    wrapper = sc._gateway.jvm.java.lang.Class.forName(
        "org.apache.spark.status.StageDataWrapper"
    )
    out = defaultdict(float)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            key = sc._gateway.new_array(sc._gateway.jvm.int, 2)
            key[0], key[1] = sid, stage.currentAttemptId if stage else 0
            try:
                data = store.read(wrapper, key).info()
            except Py4JJavaError:  # stage evicted from the store: not counted
                continue
            out["tasks"] += data.numCompleteTasks()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["shuffle_read_bytes"] += data.shuffleReadBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class ProgressListener(StreamingQueryListener):
    """Collects every stream progress event of the session."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and per-layer totals of one run; inert when disabled.

    A span is one op or one call into a layer: layer name, start and end
    (seconds since the run began), parent span and op id. ``self_ms``
    gives each layer's own time: its spans' durations minus the part
    covered by their child spans.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.listener = None
        if enabled:
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "op": op, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def reset(self) -> None:
        """Forget everything recorded so far; call between ops."""
        self.spans.clear()
        self.totals.clear()
        self.overhead_s = 0.0

    def keep(self, ops: set[str]) -> None:
        """Drop the spans of every op not in ``ops``. A span's parent
        belongs to the same op, so the kept spans stay a tree."""
        kept = [s for s in self.spans if s["op"] in ops]
        ids = {s["id"]: i for i, s in enumerate(kept)}
        for s in kept:
            s["id"], s["parent"] = ids[s["id"]], ids.get(s["parent"])
        self.spans = kept

    def add(self, name: str, value: float) -> None:
        self.totals[name] += value

    @contextmanager
    def bookkeeping(self):
        """Time the tracer's own reads, reported as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def add_streams(self, progress: list[dict]) -> None:
        """Add stream trigger durations from listener progress events."""
        for p in progress:
            d = p["duration_ms"]
            self.add("streaming.triggers", 1)
            self.add("streaming.trigger_ms", d.get("triggerExecution", 0))
            for metric, key in STREAM_PHASES.items():
                self.add(f"streaming.{metric}", d.get(key, 0))

    def self_ms(self) -> dict[str, float]:
        own: dict[str, float] = defaultdict(float)
        for s in self.spans:
            own[s["layer"]] += (s["end"] - s["start"]) * 1000
            if s["parent"] is not None:
                own[self.spans[s["parent"]]["layer"]] -= (s["end"] - s["start"]) * 1000
        return dict(own)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, fh)

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
