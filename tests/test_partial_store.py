"""The partial-store stream helper (streaming/partial_store.stream_partials):
its read-back matches the partial's schema without an inference job, on
degenerate frames too, and every registry stream goes through it or
through an incremental store built on its stager and runner — so each
one is covered by the crash/restart test."""

from __future__ import annotations

import ast
import pathlib
import re
import uuid

import pytest
from pyspark.sql import functions as F

from crypto_price_data_pipeline_spark.functions.scalars import _dec
from crypto_price_data_pipeline_spark.streaming import partial_store

PKG = pathlib.Path(__file__).resolve().parents[1] / "crypto_price_data_pipeline_spark"
QUERY_MODULES = sorted(PKG.glob("queries*.py"))
STORE_MODULES = [
    PKG / "streaming" / f"{name}.py"
    for name in ("dedup_stream", "semantic_stream", "ann_stream", "artifact_stream")
]
# a registry query that calls one of these streams through partial_store
STREAM_HELPERS = {
    "stream_partials",
    "stream_minhash_dedup",
    "stream_semantic_dedup",
    "stream_lsh_index",
    "stream_text_lsh_index",
    "stream_artifact_index",
}


def _partial(df):
    return {
        "sums": df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum(_dec(F.col("v"))).alias("s")
        ),
        "rows": df.select("id", (F.col("v") * 2).alias("v2")),
    }


def _fields(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("n_rows", [0, 1])
def test_stream_partials_reads_back_without_inference(spark, monkeypatch, n_rows):
    """Zero- and one-row frames: each store comes back with the
    partial's columns and types and the partial's rows, and reading it
    back (everything after the stream drains) starts no Spark job."""
    frame = spark.createDataFrame(
        [(7, "a", 2.5)][:n_rows], "id long, k string, v double"
    )
    sc = spark.sparkContext
    group = f"read-back-{uuid.uuid4().hex}"
    run = partial_store.run_partial_stream

    def run_then_count(*args, **kwargs):
        run(*args, **kwargs)
        sc.setJobGroup(group, group)

    monkeypatch.setattr(partial_store, "run_partial_stream", run_then_count)
    try:
        stored = partial_store.stream_partials(
            spark, frame, F.col("id") % 3, _partial, "test_partials_"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    want = _partial(frame)
    assert set(stored) == set(want)
    for name, df in stored.items():
        assert _fields(df) == _fields(want[name]), name
        assert sorted(df.collect()) == sorted(want[name].collect()), name


def _names(src: str) -> set[str]:
    nodes = list(ast.walk(ast.parse(src)))
    names = {n.id for n in nodes if isinstance(n, ast.Name)}
    names |= {n.attr for n in nodes if isinstance(n, ast.Attribute)}
    return names | {a.name for n in nodes if isinstance(n, ast.ImportFrom) for a in n.names}


def test_no_query_module_runs_its_own_stream():
    """Registry queries stream through ``stream_partials``: none calls
    the runner or writes a per-batch store path itself. The incremental
    stores stage and run through ``partial_store`` too: none opens a
    ``readStream`` or sets file mtimes itself."""
    offenders = []
    for path in QUERY_MODULES:
        src = path.read_text()
        if "run_partial_stream" in _names(src):
            offenders.append(f"{path.name}: run_partial_stream")
        if re.search(r"batch_\{batch_id", src):
            offenders.append(f"{path.name}: batch_{{batch_id}} path")
    for path in STORE_MODULES:
        names = _names(path.read_text())
        offenders += [f"{path.name}: {name}" for name in ("readStream", "utime") if name in names]
    assert not offenders, offenders


def _helper_callers() -> set[str]:
    """Registered query functions whose body calls one of ``STREAM_HELPERS``."""
    found = set()
    for path in QUERY_MODULES:
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            decorators = {ast.unparse(d).split("(")[0] for d in node.decorator_list}
            calls = {
                ast.unparse(c.func).split(".")[-1]
                for c in ast.walk(node)
                if isinstance(c, ast.Call)
            }
            if "query" in decorators and calls & STREAM_HELPERS:
                found.add(node.name)
    return found


def test_every_helper_stream_has_a_restart_test():
    """A query that streams through the helper must be listed in
    test_stream_restart.PARTIAL_STORE_STREAMS, or it would skip the
    crash/restart check."""
    from test_stream_restart import PARTIAL_STORE_STREAMS

    callers = _helper_callers()
    assert {"q_stream_ks", "q_stream_dedup"} <= callers, "lint missed a helper caller"
    assert callers <= set(PARTIAL_STORE_STREAMS), callers - set(PARTIAL_STORE_STREAMS)
