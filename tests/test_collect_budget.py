"""Source-level .collect() budget (round-9 verdict #4).

Every ``.collect()`` in the package must be one of the annotated
bounded-driver-scalar sites below — fixed-point convergence checksums,
≤256-bucket totals, a stream high-watermark, a 1-row median probe, a
top-10 rank list. A future edit that collects DATA rows to the driver
(the one pattern that breaks the 100 TB contract no matter how good
the plan is) fails this test instead of waiting for an audit.

The allowlist keys on (file, enclosing-line snippet), not line
numbers, so ordinary edits elsewhere in a file don't churn it; adding
a new collect site requires adding an entry HERE with its boundedness
argument, which is exactly the review the test exists to force.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "crypto_price_data_pipeline_spark",
)

# file (package-relative) -> list of unique substrings, one per allowed
# .collect() line, each a bounded driver scalar:
ALLOWED = {
    # fixed-point convergence checksums: one aggregated row per iteration
    "operators/components.py": [
        'prev_sum = labels.agg(F.sum("l")).collect()[0][0]',
        'cur_sum = labels.agg(F.sum("l")).collect()[0][0]',
    ],
    "operators/graph.py": [
        'prev = dist.agg(F.count(F.lit(1)), F.sum("dist")).collect()[0]',
        'cur = dist.agg(F.count(F.lit(1)), F.sum("dist")).collect()[0]',
    ],
    # two-phase global order/prefix-sum: <= 256 bucket totals
    "operators/ordering.py": [
        'bucketed.groupBy(_BKT).agg(F.count(F.lit(1)).alias("n")).collect()',
    ],
    "operators/packing.py": [
        'bucketed.groupBy(_BKT).agg(F.sum(weight_col).alias("t")).collect()',
    ],
    # stream high-watermark: one aggregated row
    "streaming/continuous_agg.py": [
        'hwm = rollup.agg(F.max("bucket_start")).collect()[0][0]',
    ],
    # 1-row median bucket probe (two-pass exact median)
    "queries_ext26.py": [".collect()"],
    # BPE learning: ONE argmax row per merge round (the next merge) —
    # the fixed-point family's bounded per-iteration driver scalar;
    # n_merges rounds total, each a single limit(1) row
    "operators/bpe.py": [".collect()"],
    # top-10 rank list (bounded by the preceding limit)
    "queries_ext24.py": [".collect()"],
    # one currency pair's FX-rate slice, read as lookup literals once
    # per rates frame: one row per rate date (a driver-sized dimension;
    # the broadcast join it replaced also built it on the driver)
    "pipeline/rates.py": [
        'rows = fx_rates.where(pair).select("rate_date", "rate").collect()',
    ],
    # a read-back ingest table's keys, kept as the sink's delta only when
    # they fit its cap: at most _DELTA_CAP + 1 rows (the preceding limit)
    "io/sinks.py": [
        "rows = scan.where(F.col(key).isNotNull()).limit(cap + 1).collect()",
    ],
    # the stored bpe_merges artifact read as expression literals:
    # vocab-bounded by construction (<= n_merges = 8 rows)
    "queries_ext37.py": [
        'rows = bpe_merge_table(spark, sf).orderBy("step").collect()',
    ],
}


def _collect_sites() -> dict[str, list[str]]:
    sites: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                for ln in fh:
                    if ".collect()" in ln:
                        sites.setdefault(rel, []).append(ln.strip())
    return sites


def test_collect_budget_is_exactly_the_annotated_sites():
    sites = _collect_sites()
    # no collects outside allowlisted files
    extra_files = set(sites) - set(ALLOWED)
    assert not extra_files, (
        f"new .collect() in {sorted(extra_files)} — driver-side data "
        "collects break the 100 TB contract; if this is a bounded "
        "scalar, annotate it in tests/test_collect_budget.py"
    )
    for rel, snippets in ALLOWED.items():
        lines = sites.get(rel, [])
        assert len(lines) == len(snippets), (
            f"{rel}: expected {len(snippets)} collect site(s), found "
            f"{len(lines)}: {lines}"
        )
        for snip in snippets:
            assert any(snip in ln for ln in lines), (
                f"{rel}: annotated site not found: {snip!r} in {lines}"
            )


def test_no_topandas_or_tolocaliterator_in_package():
    """Same budget, other exits: toPandas()/toLocalIterator() pull data
    rows to the driver and have no sanctioned site in the package."""
    pat = re.compile(r"\.toPandas\(\)|\.toLocalIterator\(\)")
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as fh:
                    for i, ln in enumerate(fh, 1):
                        if pat.search(ln):
                            hits.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not hits, f"driver data-pull calls found: {hits}"
