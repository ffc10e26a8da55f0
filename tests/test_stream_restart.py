"""Parameterized kill-mid-stream + restart ≡ uninterrupted-run test
over EVERY per-batch_id partial store that routes through
``streaming.partial_store.run_partial_stream`` (r7 verdict item #7).

The property under test is the replay contract: a crash injected
AFTER a batch's store write but BEFORE its checkpoint commit — the
worst replay window — must leave the store row-identical to an
uninterrupted run once the stream restarts from the checkpoint,
because the replayed batch OVERWRITES its own ``batch_<id>``
subdirectory with identical content. An append-semantics sink, a
nondeterministic partial, or a batch-id drift across restarts would
all fail the union comparison below.

The incremental stores (dedup_stream, semantic_stream, ann_stream,
artifact_stream) run through the same runner, so their registry
streams are listed here too; the batch-equality tests next to each
store check that an uninterrupted run is the batch result.
"""

from __future__ import annotations

import os

import pytest

from crypto_price_data_pipeline_spark.streaming import partial_store

SF = "/root/testdata/sf0.001"

# every registry stream whose store rides run_partial_stream
PARTIAL_STORE_STREAMS = [
    "q_stream_mixture",
    "q_stream_contamination",
    "q_stream_scd2",
    "q_stream_merge",
    "q_stream_vocab_drift",
    "q_stream_heavy_hitters",
    "q_stream_moments",
    "q_stream_quality_gate",
    "q_stream_retention",
    "q_stream_bigrams",
    "q_stream_paths",
    "q_stream_changepoint",
    "q_stream_diversity",
    "q_stream_attribution",
    "q_stream_ks",
    "q_stream_reach",
    "q_stream_survival",
    "q_stream_artifact_index",
    "q_stream_kmv",
    "q_stream_quantile",
    "q_stream_kmv_contamination",
    "q_stream_boilerplate",
    "q_stream_dedup",
    "q_stream_semantic_dedup",
    "q_stream_ann",
    "q_stream_text_ann",
]


def _store_dirs(work: str, ckpt: str, src: str) -> dict[str, str]:
    """Map relative-path -> absolute-path of every parquet leaf dir
    under ``work`` that is not the source or the checkpoint (i.e. the
    partial store(s) the sink wrote)."""
    out = {}
    skip = (os.path.normpath(ckpt), os.path.normpath(src))
    for root, _dirs, files in os.walk(work):
        norm = os.path.normpath(root)
        if any(norm == s or norm.startswith(s + os.sep) for s in skip):
            continue
        if any(f.endswith(".parquet") for f in files):
            out[os.path.relpath(root, work)] = root
    return out


def _substore_of(relpath: str) -> str:
    """Collapse .../batch_00002 leaves to their parent sub-store so
    rows compare as the union the read side consumes."""
    head, tail = os.path.split(relpath)
    return head if tail.startswith("batch_") else relpath


def _read_union(spark, leaf_dirs: list[str]):
    df = spark.read.parquet(*leaf_dirs)
    return sorted(
        (tuple(repr(v) for v in row) for row in df.collect()),
    )


@pytest.fixture
def crash_hook_guard():
    """Set/restore discipline for the module-global crash hook: the
    suite is serial today, but if it ever runs parallel in one process
    (pytest-xdist / concurrent sessions), a test entering with the
    hook already set would capture another test's stream run — fail
    loudly on entry and always restore on exit."""
    assert (
        partial_store._test_hook is None
    ), "another test left partial_store._test_hook set"
    yield
    partial_store._test_hook = None


@pytest.mark.parametrize("name", PARTIAL_STORE_STREAMS)
def test_partial_store_restart_is_exactly_once(spark, name, crash_hook_guard):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    fn = QUERIES[name]

    # 1. crashed run: injected failure after the 2nd batch's store
    # write lands, before its checkpoint commit
    partial_store._test_hook = {"crash_after": 2, "runs": []}
    try:
        with pytest.raises(Exception, match="injected crash"):
            fn(spark, SF)
        assert partial_store._test_hook["runs"], f"{name} never hit the runner"
        ctx = partial_store._test_hook["runs"][0]

        # 2. restart the exact crashed stream (real sink, same
        # checkpoint): the replayed batch overwrites itself, the
        # remaining batches drain
        partial_store._test_hook = None
        partial_store.run_partial_stream(
            spark,
            src=ctx["src"],
            schema=ctx["schema"],
            sink=ctx["sink"],
            ckpt=ctx["ckpt"],
        )
        crashed_work = os.path.dirname(os.path.normpath(ctx["ckpt"]))
        crashed = _store_dirs(crashed_work, ctx["ckpt"], ctx["src"])

        # 3. uninterrupted reference run (fresh tempdirs inside the
        # query function)
        partial_store._test_hook = {"runs": []}
        fn(spark, SF)
        ref_ctx = partial_store._test_hook["runs"][0]
        ref_work = os.path.dirname(os.path.normpath(ref_ctx["ckpt"]))
        reference = _store_dirs(ref_work, ref_ctx["ckpt"], ref_ctx["src"])
    finally:
        partial_store._test_hook = None

    # 4. same sub-stores, and per sub-store the unioned row multiset
    # is identical — a duplicate from an append-y replay, a missing
    # batch, or nondeterministic partial content all fail here
    by_sub_crashed: dict[str, list[str]] = {}
    for rel, path in crashed.items():
        by_sub_crashed.setdefault(_substore_of(rel), []).append(path)
    by_sub_ref: dict[str, list[str]] = {}
    for rel, path in reference.items():
        by_sub_ref.setdefault(_substore_of(rel), []).append(path)
    assert set(by_sub_crashed) == set(by_sub_ref), (
        name,
        set(by_sub_crashed) ^ set(by_sub_ref),
    )
    assert by_sub_crashed, f"{name} wrote no store"
    for sub in by_sub_ref:
        got = _read_union(spark, by_sub_crashed[sub])
        want = _read_union(spark, by_sub_ref[sub])
        assert got == want, f"{name}: store {sub!r} diverged after restart"
