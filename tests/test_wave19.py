"""Wave-19 units: BM25 spot value, lift reconstruction, Gini bounds
and hand-check, changepoint argmax law, RFM partition accounting."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def test_bm25_spot_value(spark):
    """Recompute the winner's score from raw text in pure Python."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.queries_ext19 import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
    )

    rows = QUERIES["q_bm25_topk"](spark, SF).collect()
    assert len(rows) == 10
    scores = [r["bm25_r9"] for r in rows]
    assert scores == sorted(scores, reverse=True)

    docs = {
        r["doc_id"]: [
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in load_table(spark, SF, "documents").collect()
    }
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / float(n_docs)
    df = Counter(
        t for toks in docs.values() for t in set(toks) & set(BM25_QUERY_TERMS)
    )

    def bm25(did):
        toks = docs[did]
        tf = Counter(t for t in toks if t in BM25_QUERY_TERMS)
        dl = len(toks)
        return sum(
            ((n_docs - df[t] + 0.5) / (df[t] + 0.5))
            * (c * (BM25_K1 + 1))
            / (c + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
            for t, c in tf.items()
        )

    top = rows[0]
    assert abs(bm25(top["doc_id"]) - top["bm25_r9"]) < 1e-6
    best = max(bm25(d) for d in docs)
    assert abs(best - top["bm25_r9"]) < 1e-6


def test_lift_rules_reconstruct(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_lift_rules"](spark, SF).collect()
    assert rows
    baskets = defaultdict(set)
    for r in (
        load_table(spark, SF, "events").select("user_id", "event_type").collect()
    ):
        baskets[r["user_id"]].add(r["event_type"])
    n_users = len(baskets)
    for r in rows:
        n_ab = sum(
            1 for b in baskets.values() if {r["type_a"], r["type_b"]} <= b
        )
        n_a = sum(1 for b in baskets.values() if r["type_a"] in b)
        n_b = sum(1 for b in baskets.values() if r["type_b"] in b)
        assert (r["n_ab"], r["n_a"], r["n_b"]) == (n_ab, n_a, n_b)
        assert abs(r["lift_r9"] - (n_ab * n_users) / (n_a * n_b)) < 1e-8


def test_gini_bounds_and_hand_value(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_gini_by_nation"](spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["gini_r9"] <= 1.0
    spend = defaultdict(float)
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    nation_of = {r["c_custkey"]: r["c_nationkey"] for r in cust.collect()}
    by_nation = defaultdict(dict)
    for k, nk in nation_of.items():
        by_nation[nk][k] = 0.0
    for o in (
        load_table(spark, SF, "orders").select("o_custkey", "o_totalprice").collect()
    ):
        by_nation[nation_of[o["o_custkey"]]][o["o_custkey"]] += float(
            o["o_totalprice"]
        )
    nk = rows[0]["c_nationkey"]
    xs = sorted(by_nation[nk].values())
    n = len(xs)
    g = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * sum(xs)) - (
        n + 1
    ) / n
    assert abs(g - rows[0]["gini_r9"]) < 1e-6
    assert rows[0]["n_cust"] == n


def test_changepoint_is_argmax(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from pyspark.sql import functions as F

    r = QUERIES["q_changepoint"](spark, SF).first()
    ev = load_table(spark, SF, "events")
    daily = sorted(
        (
            (row["day"], float(row["s"]), row["c"])
            for row in ev.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                )
            )
            .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
    )
    s_tot = sum(d[1] for d in daily)
    n_tot = sum(d[2] for d in daily)
    st = nt = 0.0
    best = (-1.0, None)
    for day, s, c in daily[:-1]:
        st += s
        nt += c
        stat = abs(st * n_tot - s_tot * nt)
        if stat > best[0]:
            best = (stat, day)
    assert r["split_day"] == best[1]
    assert r["n_left"] + r["n_right"] == n_tot
    assert math.isclose(r["stat"], best[0], rel_tol=1e-9)


def test_rfm_partitions_all_customers(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_rfm_segments"](spark, SF).collect()
    n_ordering = (
        load_table(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in rows) == n_ordering
    for r in rows:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4


def test_changepoint_scans_events_once(spark):
    """The totals are whole-frame windows beside the cumulative one: one
    scan of ``events`` and no join in the optimized plan."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = QUERIES["q_changepoint"](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation ") == 1
    assert "Join" not in plan
