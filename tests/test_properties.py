"""Property-based tests (hypothesis): operator semantics hold across
randomized inputs, cross-checked against pandas/python references.

Few examples per property (Spark jobs are ~100ms+ each); deadline off.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ts_strat = st.integers(min_value=0, max_value=10_000)
key_strat = st.integers(min_value=0, max_value=3)


@given(
    left=st.lists(st.tuples(key_strat, ts_strat), min_size=1, max_size=25),
    right=st.lists(st.tuples(key_strat, ts_strat), min_size=1, max_size=25),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_all_directions(spark, left, right, direction):
    from crypto_price_data_pipeline_spark.operators.asof import asof_join
    from pyspark.sql import functions as F

    ldf = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(left)], "k int, t long, lv double"
    ).withColumn("t", F.timestamp_micros(F.col("t") * 1_000_000))
    rdf = spark.createDataFrame(
        [(k, t, float(100 + i)) for i, (k, t) in enumerate(right)],
        "k int, t long, rv double",
    ).withColumn("t", F.timestamp_micros(F.col("t") * 1_000_000))
    # de-dup equal (k, t) on the right like merge_asof would keep last sorted
    rdf = rdf.groupBy("k", "t").agg(F.max("rv").alias("rv"))

    got = {
        (r["k"], r["t"], r["lv"]): r["rv"]
        for r in asof_join(ldf, rdf, on="t", by=["k"], direction=direction).collect()
    }

    lp = ldf.toPandas().sort_values("t")
    rp = rdf.toPandas().sort_values("t")
    expected = pd.merge_asof(lp, rp, on="t", by="k", direction=direction)
    for _, row in expected.iterrows():
        want = None if pd.isna(row["rv"]) else row["rv"]
        assert got[(row["k"], row["t"], row["lv"])] == want


@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40
    ),
    ranges=st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.floats(min_value=1.0, max_value=1e5, allow_nan=False),
        ),
        min_size=1,
        max_size=5,
    ),
)
@settings(**SETTINGS)
def test_band_join_bucketed_equals_broadcast(spark, values, ranges):
    from crypto_price_data_pipeline_spark.operators.range_join import band_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id int, v double"
    )
    rdf = spark.createDataFrame(
        [(float(lo), float(lo + w), f"r{i}") for i, (lo, w) in enumerate(ranges)],
        "lo double, hi double, tier string",
    )
    a = sorted((r["id"], r["tier"]) for r in band_join(facts, rdf, "v").collect())
    b = sorted(
        (r["id"], r["tier"])
        for r in band_join(facts, rdf, "v", bucket_width=1000.0).collect()
    )
    assert a == b


@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=12
    )
)
@settings(**SETTINGS)
def test_exact_dedup_keeps_one_per_key(spark, docs):
    from crypto_price_data_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    out = exact_dedup(df, ["text"], "id").collect()
    texts = [r["text"] for r in out]
    assert sorted(set(texts)) == sorted(texts)  # one row per distinct text
    expected = {}
    for i, d in enumerate(docs):
        expected.setdefault(d, i)
    assert {r["text"]: r["id"] for r in out} == expected  # min id kept


@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=2, max_size=10
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
)
@settings(**SETTINGS)
def test_count_based_jaccard_equals_set_algebra(spark, docs, threshold):
    """The count-based set-similarity join (posting hits = |A∩B|,
    J = c/(|A|+|B|-c)) must equal literal set-algebra Jaccard over the
    same shingle sets, for every pair above the threshold — the
    identity the inverted-index rewrite of ngram_jaccard_pairs rests
    on (VERDICT r4 item 8)."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        with_shingles,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    sets = {
        r["doc_id"]: set(r["_shingles"])
        for r in with_shingles(df, "doc_id", "text", 3).collect()
    }
    expected = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            j = inter / union if union else 0.0
            if j >= threshold:
                expected[(a, b)] = j
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, k=3, threshold=threshold, block_cols=None, max_docs=None
        ).collect()
    }
    assert got.keys() == expected.keys()
    for pair, j in expected.items():
        assert abs(got[pair] - j) < 1e-12


@given(
    docs=st.lists(
        st.text(alphabet="abc d", min_size=1, max_size=25), min_size=2, max_size=8
    )
)
@settings(**SETTINGS)
def test_lsh_banding_recall_meets_pigeonhole_bound(spark, docs):
    """Pigeonhole guarantee of banded LSH: if two signatures differ in
    fewer positions than there are bands, at least one band is
    untouched — identical — so band_buckets MUST co-bucket the pair.
    (The probabilistic miss only exists at >= bands differing
    positions; below the bound, recall is exactly 1.)"""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
    )

    num_hashes, bands = 16, 8
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    sig = minhash_signatures(df, "doc_id", "text", num_hashes, 2).persist()
    sigs = {r["doc_id"]: list(r["_minhash"]) for r in sig.collect()}
    posts = band_buckets(sig, "doc_id", num_hashes, bands).collect()
    sig.unpersist()
    buckets = {}
    for r in posts:
        buckets.setdefault((r["band"], r["bucket"]), set()).add(r["_id"])
    candidates = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    candidates.add((a, b))
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            n_diff = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if n_diff < bands:
                assert (a, b) in candidates, (
                    f"pair ({a},{b}) differs in {n_diff} < {bands} positions "
                    "but was not co-bucketed"
                )


@given(
    values=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=1,
        max_size=30,
    ),
    chunk_size=st.sampled_from([1, 3, 7, 1 << 16]),
    alpha=st.sampled_from([0.1, 0.5, 0.9]),
)
@settings(**SETTINGS)
def test_chunked_ema_equals_serial_fold(spark, values, chunk_size, alpha):
    """The affine-map composition across chunks must reproduce the
    serial EMA fold for ANY chunk size — including chunk_size=1 (every
    row its own chunk, pure composition) and a single chunk (pure
    seeded fold)."""
    from crypto_price_data_pipeline_spark.operators.series import (
        emas_by_key_chunked,
    )

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(values)], "k long, o long, v double"
    )
    row = emas_by_key_chunked(
        df, "k", ["o"], "v", {"ema": alpha}, chunk_size=chunk_size
    ).first()
    acc = None
    for v in values:
        acc = v if acc is None else v * alpha + acc * (1.0 - alpha)
    assert row["n_ticks"] == len(values)
    tol = 1e-9 * max(1.0, abs(acc))
    assert abs(row["ema"] - acc) <= tol


@given(
    common=st.text(alphabet="abcdef", min_size=15, max_size=30),
    pada=st.text(alphabet="uvwxyz", min_size=0, max_size=20),
    padb=st.text(alphabet="mnopqr", min_size=0, max_size=20),
)
@settings(**SETTINGS)
def test_winnowing_shared_substring_guarantee(spark, common, pada, padb):
    """The winnowing guarantee, fuzzed: two docs sharing ANY substring
    of length ≥ k + w - 1 (= 15 at k=8, w=8) MUST share at least one
    selected fingerprint, regardless of what surrounds it."""
    from crypto_price_data_pipeline_spark.operators.text import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, pada + common + padb), (2, padb + common + pada)],
        "doc_id long, text string",
    )
    by_doc = {1: set(), 2: set()}
    for r in winnowing_fingerprints(df, k=8, w=8).collect():
        by_doc[r["doc_id"]].add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]


@given(
    members=st.lists(
        st.text(alphabet="abcdefg ", min_size=1, max_size=20),
        min_size=1,
        max_size=30,
        unique=True,
    ),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, members):
    """Fuzzed no-false-negative guarantee: any member set, any probe of
    a member, must hit — the property the contamination pre-filter's
    safety theorem rests on."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_hit,
    )

    bench = spark.createDataFrame([(g,) for g in members], "gram string")
    bloom = bloom_build(bench, m_bits=1 << 10, k=3)
    probes = spark.createDataFrame(
        [(i, [g]) for i, g in enumerate(members)], "id long, grams array<string>"
    )
    out = probes.crossJoin(F.broadcast(bloom)).select(
        "id", bloom_hit(F.col("grams"), F.col("words"), 1 << 10, 3).alias("hit")
    )
    assert all(r["hit"] for r in out.collect())


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=3, max_size=40),
        min_size=2,
        max_size=10,
    ),
)
@settings(**SETTINGS)
def test_lm_scores_bounded_and_deterministic(spark, texts):
    """Fuzzed LM-score invariants: every score lies in (0, 1] (each
    smoothed transition probability does), and scoring twice is
    bit-identical (no RNG, no partition dependence)."""
    from crypto_price_data_pipeline_spark.operators.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    a = {r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(df).collect()}
    b = {
        r["doc_id"]: r["lm_score"]
        for r in bigram_lm_scores(df.repartition(5)).collect()
    }
    assert a == b
    assert all(0.0 < v <= 1.0 for v in a.values())


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=4, max_size=4
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=3,
        max_size=12,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(**SETTINGS)
def test_knn_join_matches_numpy_bruteforce(spark, vecs, k):
    """Fuzzed kNN self-join vs an independent numpy oracle: for every
    item the returned neighbors are exactly the cosine top-k with
    (desc sim, asc id) tiebreak, and ranks are 1..min(k, n-1)."""
    import numpy as np

    from crypto_price_data_pipeline_spark.operators.similarity import knn_join

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {}
    for r in knn_join(emb, k=k).collect():
        got.setdefault(r["vec_id"], []).append((r["rnk"], r["nbr_id"]))
    a = np.array([v for _, v in rows], dtype=float)
    norms = np.linalg.norm(a, axis=1)
    sims = (a @ a.T) / np.outer(norms, norms)
    n = len(rows)
    for i in range(n):
        order = sorted(
            (j for j in range(n) if j != i), key=lambda j: (-round(sims[i, j], 9), j)
        )
        want = [(r + 1, j) for r, j in enumerate(order[:k])]
        got_i = sorted(got.get(i, []))
        # sims equal up to fp noise can legitimately swap: compare by
        # (rank -> sim) values instead of ids when sims tie
        assert len(got_i) == len(want)
        for (gr, gj), (wr, wj) in zip(got_i, want):
            assert gr == wr
            assert abs(sims[i, gj] - sims[i, wj]) < 1e-9


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([3, 8, 9]),
    w=st.sampled_from([2, 4, 8]),
)
@settings(**SETTINGS)
def test_packed_winnowing_matches_python_string_selection(spark, texts, k, w):
    """The packed-long winnowing path must select EXACTLY the grams a
    plain-python lexicographic window minimum selects, for arbitrary
    text (unicode, punctuation, case, empty, shorter-than-k) — per-doc
    sketch SIZE equality against the reference selection, which is
    what pair counts are a function of under the injective packing."""
    import re

    from crypto_price_data_pipeline_spark.operators.text import (
        _winnowing_fp_hashes,
    )

    def ref_sketch(text: str) -> int:
        s = re.sub(r"[^a-z0-9]", "", text.lower())
        grams = [s[i : i + k] for i in range(max(len(s) - k + 1, 1))]
        mins = {
            min(grams[i : i + w]) for i in range(max(len(grams) - w + 1, 1))
        }
        return len(mins)

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in _winnowing_fp_hashes(df, "doc_id", "text", k, w)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = {i: ref_sketch(t) for i, t in enumerate(texts)}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
)
@settings(**SETTINGS)
def test_global_order_offsets_inplan_matches_python_prefix_sum(spark, rows):
    """Combined rank + exclusive weighted prefix equals the sequential
    reference on random (id, weight) sets under the md5-shuffle order."""
    import hashlib

    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.ordering import (
        global_order_offsets_inplan,
        hex_prefix_bucket,
    )

    df = spark.createDataFrame(rows, "doc_id long, wt long").withColumn(
        "_k", F.md5(F.concat(F.lit("p:"), F.col("doc_id").cast("string")))
    )
    got = {
        r["doc_id"]: (r["pos"], r["offset"])
        for r in global_order_offsets_inplan(
            df, ["_k", "doc_id"], hex_prefix_bucket("_k", 2), weight_col="wt"
        ).collect()
    }
    order = sorted(
        rows,
        key=lambda t: (hashlib.md5(f"p:{t[0]}".encode()).hexdigest(), t[0]),
    )
    want, acc = {}, 0
    for pos, (doc_id, wt) in enumerate(order, start=1):
        want[doc_id] = (pos, acc)
        acc += wt
    assert got == want


@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=2, max_size=24
    ),
    dup=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_simhash_pair_strategies_identical_on_random_fingerprints(
    spark, fps, dup
):
    """canonical-filter and distinct-fp-banding must emit the IDENTICAL
    (id_a, id_b, hamming) set for arbitrary fingerprint multisets —
    random 32-bit values at random duplication, checked against a
    Python brute-force reference (every pair within Hamming ≤ 3)."""
    from crypto_price_data_pipeline_spark.operators.dedup import simhash_md5_pairs

    rows = [(i, fps[i % len(fps)]) for i in range(len(fps) * dup)]
    sig = spark.createDataFrame(
        rows, "doc_id long, simhash32 long"
    ).localCheckpoint(eager=True)
    got = {}
    for strat in ("canonical", "distinct"):
        got[strat] = sorted(
            map(
                tuple,
                simhash_md5_pairs(
                    None, sig=sig, strategy=strat, materialize=False
                ).collect(),
            )
        )
    brute = sorted(
        (a, b, bin(fa ^ fb).count("1"))
        for a, fa in rows
        for b, fb in rows
        if a < b and bin(fa ^ fb).count("1") <= 3
    )
    assert got["canonical"] == brute
    assert got["distinct"] == brute


@given(
    mins=st.lists(
        st.tuples(*([st.integers(min_value=0, max_value=5)] * 8)),
        min_size=2,
        max_size=24,
    ),
)
@settings(**SETTINGS)
def test_minhash_firstband_candidates_match_bruteforce(spark, mins):
    """plain and firstband candidate generation must emit the IDENTICAL
    pair set for arbitrary minima tables — random 8-hash signatures at
    4 bands (tiny value range forces heavy band collisions), checked
    against a Python brute-force reference: a pair is a candidate iff
    some band's 2-hash minima tuple matches, and firstband must emit it
    exactly once."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        _band_vectors,
        _first_match_band,
        band_buckets_from_cols,
    )
    from pyspark.sql import functions as F

    rows = [(i, *m) for i, m in enumerate(mins)]
    cols = "doc_id long, " + ", ".join(f"_m{j} long" for j in range(8))
    df = spark.createDataFrame(rows, cols).localCheckpoint(eager=True)
    banded = band_buckets_from_cols(df, "doc_id", 8, 4)
    a = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
    plain = sorted(
        map(
            tuple,
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .collect(),
        )
    )
    bv = _band_vectors(df, "doc_id", 8, 4, "_id")
    fa = bv.select(F.col("_id").alias("id_a"), F.col("_bv").alias("_bv_a"), "band", "bucket")
    fb = bv.select(F.col("_id").alias("id_b"), F.col("_bv").alias("_bv_b"), "band", "bucket")
    first = (
        fa.join(fb, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.col("band") == _first_match_band(4, "_bv_a", "_bv_b"))
        .select("id_a", "id_b")
    )
    first_rows = [tuple(r) for r in first.collect()]
    assert len(first_rows) == len(set(first_rows))  # exactly-once emission
    brute = sorted(
        (i, j)
        for i, mi in enumerate(mins)
        for j, mj in enumerate(mins)
        if i < j and any(mi[2 * b : 2 * b + 2] == mj[2 * b : 2 * b + 2] for b in range(4))
    )
    assert plain == brute
    assert sorted(first_rows) == brute


@given(
    keys=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=120),
    split=st.integers(min_value=1, max_value=5),
    k=st.sampled_from([4, 16]),
)
@settings(**SETTINGS)
def test_kmv_bottom_k_and_merge_match_python(spark, keys, split, k):
    """kmv_build must equal the Python md5 brute force (k smallest
    distinct 60-bit hashes), and re-ranking the union of per-part
    sketches must equal the whole-corpus sketch for ANY partition of
    the keys (the semilattice/merge property the streamed twin relies
    on)."""
    import hashlib

    from crypto_price_data_pipeline_spark.operators.sketch import (
        kmv_build,
        kmv_from_hashes,
    )
    from pyspark.sql import functions as F

    rows = [(kk, i % split) for i, kk in enumerate(keys)]
    df = spark.createDataFrame(rows, "kk long, part int").localCheckpoint(
        eager=True
    )
    whole = kmv_build(
        df.select(F.lit("g").alias("g"), "kk"), F.col("kk"), ["g"], k=k
    ).collect()
    brute = sorted(
        {int(hashlib.md5(str(kk).encode()).hexdigest()[:15], 16) for kk in keys}
    )[:k]
    assert [list(r.kmv) for r in whole] == [brute]
    parts = kmv_build(
        df.select("part", "kk"), F.col("kk"), ["part"], k=k
    )
    merged = kmv_from_hashes(
        parts.select(F.lit("g").alias("g"), F.explode("kmv").alias("_h")),
        ["g"],
        k=k,
    ).collect()
    assert [list(r.kmv) for r in merged] == [brute]


_MINHASH_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumped over the lazy dog"),
    (3, "a b"),
    (4, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
    (5, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"),
    (6, "x"),
]
_ANSI = "spark.sql.ansi.enabled"


def _conf_state(spark, key):
    """(is the key set in the session, its value) — an unset key stays
    distinguishable from one set to its default."""
    return key in spark.conf.getAll, spark.conf.get(key, None)


@pytest.mark.parametrize("num_hashes", [1, 16, 64])
def test_minhash_builders_match_reference(spark, num_hashes):
    """minhash_min_cols, minhash_signatures and a pure-Python double
    hash min((h1 + i·h2) mod p) over Spark's (h1, h2) agree exactly,
    in a session with ANSI on (the builders construct their hash
    arithmetic with ANSI off; the values must not move)."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_min_cols,
        minhash_signatures,
        with_shingles,
    )
    from crypto_price_data_pipeline_spark.session import scoped_conf

    p, seed = (1 << 31) - 1, 42
    with scoped_conf(spark, **{_ANSI: "true"}):
        df = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
        base = with_shingles(df, "doc_id", "text", 3).persist()
        try:
            h = base.select("doc_id", F.explode("_shingles").alias("s")).select(
                "doc_id",
                F.pmod(F.xxhash64("s"), F.lit(p)).alias("h1"),
                (F.pmod(F.xxhash64("s", F.lit(seed)), F.lit(p - 1)) + 1).alias("h2"),
            )
            hashes: dict[int, list[tuple[int, int]]] = {}
            for r in h.collect():
                hashes.setdefault(r["doc_id"], []).append((r["h1"], r["h2"]))
            expected = {
                d: [min((h1 + i * h2) % p for h1, h2 in hs) for i in range(num_hashes)]
                for d, hs in hashes.items()
            }
            mins = {
                r["doc_id"]: [r[f"_m{i}"] for i in range(num_hashes)]
                for r in minhash_min_cols(base, "doc_id", num_hashes, seed).collect()
            }
        finally:
            base.unpersist()
        sigs = {
            r["doc_id"]: list(r["_minhash"])
            for r in minhash_signatures(
                df, "doc_id", "text", num_hashes, 3, seed
            ).collect()
        }
        assert spark.conf.get(_ANSI) == "true"
    assert len(expected) == len(_MINHASH_DOCS)
    assert mins == expected
    assert sigs == expected


@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (64, 16)])
def test_band_buckets_agree_across_builders(spark, num_hashes, bands):
    """band_buckets over minhash_signatures and band_buckets_from_cols
    over minhash_min_cols give identical (id, band, bucket) rows for the
    same documents: the stored streaming index and the batch postings
    join on these buckets."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        band_buckets,
        band_buckets_from_cols,
        minhash_min_cols,
        minhash_signatures,
        with_shingles,
    )

    df = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
    sig = minhash_signatures(df, "doc_id", "text", num_hashes, 3).localCheckpoint(eager=True)
    mins = minhash_min_cols(with_shingles(df, "doc_id", "text", 3), "doc_id", num_hashes, 42)
    from_sig = sorted(map(tuple, band_buckets(sig, "doc_id", num_hashes, bands).collect()))
    from_cols = sorted(
        map(tuple, band_buckets_from_cols(mins, "doc_id", num_hashes, bands).collect())
    )
    assert len(from_sig) == len(_MINHASH_DOCS) * bands
    assert from_sig == from_cols


@pytest.mark.parametrize("num_hashes", [0, 2**32 + 1])
def test_minhash_builders_reject_overflowing_num_hashes(num_hashes):
    """The overflow bound is checked on the driver before anything is
    built: the frame argument is never touched (a bare object would
    raise AttributeError, not ValueError)."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_min_cols,
        minhash_signatures,
    )

    with pytest.raises(ValueError, match="num_hashes"):
        minhash_min_cols(object(), "doc_id", num_hashes)
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_signatures(object(), "doc_id", "text", num_hashes)


@pytest.mark.parametrize("prior", [None, "true", "false"])
def test_minhash_builders_restore_session_conf(spark, prior):
    """After either builder returns or raises, spark.sql.ansi.enabled
    reads exactly as before — set keys keep their value, an unset key
    stays unset (not set to its default)."""
    from pyspark.errors import AnalysisException

    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_min_cols,
        minhash_signatures,
        with_shingles,
    )

    saved = _conf_state(spark, _ANSI)
    try:
        if prior is None:
            spark.conf.unset(_ANSI)
        else:
            spark.conf.set(_ANSI, prior)
        before = _conf_state(spark, _ANSI)
        assert before[0] is (prior is not None)
        df = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
        base = with_shingles(df, "doc_id", "text", 3)
        minhash_min_cols(base, "doc_id", 4)
        assert _conf_state(spark, _ANSI) == before
        minhash_signatures(df, "doc_id", "text", 4)
        assert _conf_state(spark, _ANSI) == before
        with pytest.raises(AnalysisException):
            minhash_min_cols(base, "no_such_col", 4)
        assert _conf_state(spark, _ANSI) == before
        with pytest.raises(AnalysisException):
            minhash_signatures(df, "doc_id", "no_such_col", 4)
        assert _conf_state(spark, _ANSI) == before
    finally:
        if saved[0]:
            spark.conf.set(_ANSI, saved[1])
        else:
            spark.conf.unset(_ANSI)


def test_minhash_minima_compile_to_unchecked_arithmetic(spark):
    """The minima aggregate keeps unchecked long arithmetic in an ANSI
    session: its generated code calls no Math.addExact/multiplyExact
    (each an allocated closure plus a boxed Long per operation), while
    an ANSI-built control expression over the same input does."""
    import re

    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_min_cols,
        with_shingles,
    )
    from crypto_price_data_pipeline_spark.session import scoped_conf

    debug = spark._jvm.org.apache.spark.sql.execution.debug.package

    def exact_calls(df):
        df.collect()  # AQE: the final plan exists once the query ran
        code = debug.codegenString(df._jdf.queryExecution().executedPlan())
        return set(re.findall(r"\b(?:add|multiply)Exact\b", code))

    with scoped_conf(spark, **{_ANSI: "true"}):
        df = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
        base = with_shingles(df, "doc_id", "text", 3).persist()
        try:
            mins = minhash_min_cols(base, "doc_id", 8)
            control = (
                base.select("doc_id", F.explode("_shingles").alias("s"))
                .select("doc_id", F.expr("pmod(s, 2147483647)").alias("h"))
                .groupBy("doc_id")
                .agg(F.expr("min(pmod(h + 3 * h, 2147483647))"))
            )
            assert exact_calls(mins) == set()
            assert exact_calls(control) == {"addExact", "multiplyExact"}
        finally:
            base.unpersist()
