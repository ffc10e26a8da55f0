"""Operator unit tests on tiny in-memory DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_asof_join_matches_merge_asof(spark):
    from crypto_price_data_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_pandas,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (1, "2024-01-01 11:00:00", 2.0),
         (2, "2024-01-01 10:30:00", 3.0), (3, "2024-01-01 09:00:00", 4.0)],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 10:30:00", 20.0),
         (2, "2024-01-01 10:30:00", 30.0)],
        "user_id int, ts string, ref double",
    ).withColumn("ts", F.to_timestamp("ts"))

    got = {
        (r["user_id"], str(r["ts"])): r["ref"]
        for r in asof_join(left, right, on="ts", by=["user_id"]).collect()
    }
    # backward inclusive: equal timestamps match (user 2)
    assert got[(1, "2024-01-01 10:00:00")] == 10.0
    assert got[(1, "2024-01-01 11:00:00")] == 20.0
    assert got[(2, "2024-01-01 10:30:00")] == 30.0
    assert got[(3, "2024-01-01 09:00:00")] is None

    via_pandas = {
        (r["user_id"], str(r["ts"])): r["ref"]
        for r in asof_join_pandas(left, right, on="ts", by=["user_id"]).collect()
    }
    assert got == via_pandas


def test_asof_null_value_column_keeps_row_integrity(spark):
    """A matched right row with a NULL value column attaches that NULL
    (pd.merge_asof semantics) — the carry must not scavenge the value
    from an earlier right row whose other columns weren't matched."""
    from crypto_price_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 11:00:00")], "user_id int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 10.0, "old"),
         (1, "2024-01-01 10:00:00", None, "new")],
        "user_id int, ts string, ref double, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = asof_join(
        left, right, on="ts", by=["user_id"], value_cols=["ref", "tag"]
    ).collect()[0]
    assert row["tag"] == "new" and row["ref"] is None  # not 10.0 from "old"


def test_asof_tolerance(spark):
    from crypto_price_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0)], "user_id int, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 10.0)], "user_id int, ts string, ref double"
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = asof_join(
        left, right, on="ts", by=["user_id"], tolerance_seconds=3600
    ).collect()
    assert rows[0]["ref"] is None  # 2h-old ref is outside the 1h tolerance


def test_asof_forward_nearest_match_merge_asof(spark):
    import pandas as pd

    from crypto_price_data_pipeline_spark.operators.asof import asof_join

    lrows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 11:00:00", 2.0),
        (1, "2024-01-01 12:00:00", 2.5),
        (2, "2024-01-01 10:30:00", 3.0),
        (3, "2024-01-01 09:00:00", 4.0),
    ]
    rrows = [
        (1, "2024-01-01 09:30:00", 10.0),
        (1, "2024-01-01 10:30:00", 20.0),
        (1, "2024-01-01 11:30:00", 25.0),
        (2, "2024-01-01 10:30:00", 30.0),
        (3, "2024-01-01 10:00:00", 40.0),
    ]
    left = spark.createDataFrame(
        lrows, "user_id int, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        rrows, "user_id int, ts string, ref double"
    ).withColumn("ts", F.to_timestamp("ts"))
    lp = pd.DataFrame(lrows, columns=["user_id", "ts", "value"]).astype({"ts": "datetime64[ns]"}).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["user_id", "ts", "ref"]).astype({"ts": "datetime64[ns]"}).sort_values("ts")

    for direction in ("forward", "nearest"):
        got = {
            (r["user_id"], str(r["ts"])): r["ref"]
            for r in asof_join(
                left, right, on="ts", by=["user_id"], direction=direction
            ).collect()
        }
        exp_df = pd.merge_asof(lp, rp, on="ts", by="user_id", direction=direction)
        expected = {
            (r.user_id, str(r.ts)): (None if pd.isna(r.ref) else r.ref)
            for r in exp_df.itertuples()
        }
        assert got == expected, direction
    # tie at equal backward/forward distance resolves backward
    # (user 1 @11:00 is 30 min from both 10:30 and 11:30 refs)
    near = {
        (r["user_id"], str(r["ts"])): r["ref"]
        for r in asof_join(left, right, on="ts", by=["user_id"], direction="nearest").collect()
    }
    assert near[(1, "2024-01-01 11:00:00")] == 20.0


def test_asof_forward_tolerance(spark):
    from crypto_price_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0)], "user_id int, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 12:30:00", 10.0)], "user_id int, ts string, ref double"
    ).withColumn("ts", F.to_timestamp("ts"))
    fwd = asof_join(
        left, right, on="ts", by=["user_id"], direction="forward", tolerance_seconds=3600
    ).collect()
    assert fwd[0]["ref"] is None  # next ref is 2.5h out, beyond 1h tolerance
    near = asof_join(
        left, right, on="ts", by=["user_id"], direction="nearest", tolerance_seconds=3600 * 3
    ).collect()
    assert near[0]["ref"] == 10.0


def test_band_join_bucketed_equals_broadcast(spark):
    from crypto_price_data_pipeline_spark.operators.range_join import band_join

    facts = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id int, v double"
    )
    ranges = spark.createDataFrame(
        [(0.0, 10.0, "a"), (10.0, 55.0, "b"), (55.0, 100.0, "c")],
        "lo double, hi double, tier string",
    )
    a = sorted(
        (r["id"], r["tier"])
        for r in band_join(facts, ranges, "v").collect()
    )
    b = sorted(
        (r["id"], r["tier"])
        for r in band_join(facts, ranges, "v", bucket_width=8.0).collect()
    )
    assert a == b and len(a) == 100


def test_exact_dedup_keeps_min(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (5, "y")], "id int, k string"
    )
    rows = {r["k"]: r["id"] for r in exact_dedup(df, ["k"], "id").collect()}
    assert rows == {"x": 1, "y": 5}


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("lazy", "sleepy")  # one token differs
    other = "completely different text about spark query engines and distributed columnar execution plans"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)],  # 4 = exact dup of 1
        "doc_id long, text string",
    )


def test_minhash_lsh_finds_planted_near_dups(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_dedup,
        minhash_lsh_pairs,
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.4).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.4 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs

    kept = sorted(
        r["doc_id"] for r in minhash_dedup(_docs(spark), threshold=0.4).collect()
    )
    assert kept == [1, 3]  # 2 and 4 collapse into 1; keep-min-id


def test_simhash_near_dups(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import simhash_pairs

    # hamming budget 10 needs >=11 bands for guaranteed recall
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark), max_hamming=10, bands=11, bits=5).collect()
    }
    assert pairs[(1, 4)] == 0  # identical docs, identical fingerprints
    assert (1, 2) in pairs  # near-dup within hamming budget
    assert (1, 3) not in pairs


def test_simhash_md5_banding_equals_exhaustive(spark):
    """The 32-bit md5 SimHash banding (pigeonhole: 4×8 covers Hamming
    ≤3) must return exactly the exhaustive Hamming ≤3 pair set."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        simhash_md5,
        simhash_md5_pairs,
    )

    fp = {r["doc_id"]: r["simhash32"] for r in simhash_md5(_docs(spark)).collect()}
    exhaustive = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_md5_pairs(_docs(spark), max_hamming=3).collect()
    }
    assert banded == exhaustive
    assert banded[(1, 4)] == 0  # identical docs → identical fingerprints
    assert all(v < 1 << 32 and v >= 0 for v in fp.values())


def test_simhash_banding_parameterized(spark):
    import pytest

    from crypto_price_data_pipeline_spark.operators.dedup import simhash_pairs

    # 6 bands × 10 bits covers Hamming ≤5 by pigeonhole
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark), max_hamming=5, bands=6, bits=10).collect()
    }
    assert pairs[(1, 4)] == 0
    assert all(h <= 5 for h in pairs.values())
    with pytest.raises(ValueError):  # pigeonhole violated
        simhash_pairs(_docs(spark), max_hamming=5, bands=4, bits=16)
    with pytest.raises(ValueError):  # bands*bits > 64
        simhash_pairs(_docs(spark), max_hamming=3, bands=5, bits=16)


def test_simhash_combination_blocking_equals_banding(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_combination,
    )

    docs = _docs(spark)
    # both have exact recall at Hamming <=3, so pair sets must agree
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3, bands=4, bits=16).collect()
    }
    combo = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_combination(docs, max_hamming=3, blocks=8).collect()
    }
    assert banded == combo
    assert combo[(1, 4)] == 0  # exact dup pair always present


def test_ema_chunked_matches_serial_fold(spark):
    """Affine-composed chunked EMA ≡ serial fold to fp-reassociation
    tolerance, at chunk boundaries of every phase (chunk_size smaller
    than, equal to, and larger than the series)."""
    from crypto_price_data_pipeline_spark.operators.series import ema_by_key_chunked

    vals = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k int, i int, v double"
    )
    acc = None
    for v in vals:
        acc = v if acc is None else v * 0.25 + acc * 0.75
    for cs in (2, 7, 100):
        row = ema_by_key_chunked(
            df, "k", ["i"], "v", alpha=0.25, chunk_size=cs
        ).collect()[0]
        assert row["n_ticks"] == len(vals)
        assert abs(row["ema"] - acc) <= 1e-12 * abs(acc)


def test_ema_chunked_million_point_key(spark):
    """A single 1M-point key folds with arrays bounded by chunk_size —
    no OOM-driven config changes, result matches the closed-form EMA of
    a constant series exactly."""
    from crypto_price_data_pipeline_spark.operators.series import ema_by_key_chunked

    df = (
        spark.range(1_000_000)
        .select(F.lit(1).alias("k"), F.col("id").alias("i"), F.lit(2.5).alias("v"))
    )
    row = ema_by_key_chunked(df, "k", ["i"], "v", alpha=0.1, chunk_size=1 << 12).collect()[0]
    assert row["n_ticks"] == 1_000_000
    assert abs(row["ema"] - 2.5) < 1e-9  # EMA of a constant is the constant


def test_exhaustive_baselines_gated_by_corpus_size(spark):
    """The explicitly-quadratic baselines must refuse oversized corpora
    BEFORE any pair join is planned — the scale paths (minhash_then_exact,
    LSH bucketing) are the only routes past the cap."""
    import pytest

    from crypto_price_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from crypto_price_data_pipeline_spark.queries_ext import embedding_neardup_pairs

    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(_docs(spark), max_docs=2)
    with pytest.raises(ValueError, match="quadratic"):
        embedding_neardup_pairs(
            spark, "/root/testdata/sf0.001", threshold=0.35, max_vectors=2
        )
    # under the cap the plan builds as before
    assert ngram_jaccard_pairs(_docs(spark), max_docs=100).columns == [
        "id_a", "id_b", "jaccard",
    ]


def test_minhash_then_exact_equals_exhaustive(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import (
        minhash_then_exact,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark)
    chained = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_then_exact(docs, threshold=0.3, bands=32).collect()
    }
    exhaustive = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert chained == exhaustive and (1, 4) in chained


def test_ngram_jaccard_pairs(spark):
    from crypto_price_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs


def test_cosine_topk_and_lsh_recall(spark):
    from crypto_price_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_buckets,
        lsh_cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 0.01, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [1.0, 0.0, 0.0, 0.0]
    exact = [r["vec_id"] for r in cosine_topk(emb, query, k=3).collect()]
    assert exact == [0, 3, 1]

    bucketed = hyperplane_lsh_buckets(emb, dim=4, bits=4)
    approx = [
        r["vec_id"] for r in lsh_cosine_topk(bucketed, query, k=3, bits=4).collect()
    ]
    # LSH with multiprobe must recover the exact top-1 here (same-sign
    # vectors share the query's bucket)
    assert approx[0] == 0


def test_ann_recall_sub_k_corpus(spark):
    """A corpus smaller than k must be able to reach recall 1.0: the
    denominator is min(k, |exact|), not the literal k (a 3-row corpus
    with a perfect ANN used to score 3/10 and flip recall_ok)."""
    from crypto_price_data_pipeline_spark.operators.similarity import cosine_topk
    from crypto_price_data_pipeline_spark.queries import _ann_with_recall

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=10)
    out = _ann_with_recall(exact, exact, k=10, floor=0.5).collect()
    assert len(out) == 3
    assert all(r["recall_ok"] for r in out)
    # rows come out ordered by raw cosine desc, vec_id
    assert [r["vec_id"] for r in out] == [0, 1, 2]


def test_text_functions(spark):
    from crypto_price_data_pipeline_spark.operators.text import (
        fingerprint,
        language_id,
        quality_scores,
        token_count,
    )

    df = spark.createDataFrame(
        [(1, "The quick brown fox and the lazy dog in the yard"),
         (2, "der hund und die katze ist nicht ein tier mit")],
        "doc_id long, text string",
    )
    counts = {r["doc_id"]: r["n"] for r in df.select("doc_id", token_count("text").alias("n")).collect()}
    assert counts == {1: 11, 2: 10}

    langs = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert langs[1] == "en" and langs[2] == "de"

    q = quality_scores(df).collect()[0]
    assert 0.0 <= q["quality_score"] <= 1.0 and q["n_tokens"] == 11

    fps = df.select(fingerprint("text").alias("fp")).collect()
    assert fps[0]["fp"] != fps[1]["fp"]
    # same text → same fingerprint
    again = df.select(fingerprint("text").alias("fp")).collect()
    assert [r["fp"] for r in fps] == [r["fp"] for r in again]


def test_multimodal_byte_histogram(spark):
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        byte_histogram_features,
        documents_as_media,
    )

    docs = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    media = documents_as_media(docs)
    feats = {r["media_id"]: r for r in byte_histogram_features(media).collect()}
    assert feats[1]["n_bytes"] == 3
    # 'a','b','c' = 97,98,99 → all in bin 6 (96..112) of 16 bins
    assert feats[1]["byte_hist"][6] == 3 and sum(feats[1]["byte_hist"]) == 3
    assert feats[2]["n_bytes"] == 0 and sum(feats[2]["byte_hist"]) == 0


def test_multimodal_decode_resize(spark):
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        decode_image,
        documents_as_media,
        resize_image,
    )
    import pytest

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "x")], "doc_id long, text string"
    )
    media = documents_as_media(docs)
    decoded = {r["media_id"]: r for r in decode_image(media, width=4).collect()}
    # 10 bytes at width 4 → 3 rows, zero-padded tail
    assert (decoded[1]["width"], decoded[1]["height"]) == (4, 3)
    assert decoded[1]["pixels"][0] == [97, 98, 99, 100]
    assert decoded[1]["pixels"][2] == [105, 106, 0, 0]
    assert decoded[2]["pixels"] == [[120, 0, 0, 0]]

    resized = {r["media_id"]: r for r in
               resize_image(decode_image(media, width=4), 2, 2).collect()}
    assert (resized[1]["width"], resized[1]["height"]) == (2, 2)
    # nearest-neighbor: rows 0,1 / cols 0,2 of the 4x3 source
    assert resized[1]["pixels"] == [[97, 99], [101, 103]]

    # real codec slot is present but gated
    with pytest.raises(NotImplementedError):
        decode_image(media, codec="pil")


def test_png_codec_roundtrip_pure_python():
    """Driver-side codec contract: every filter type round-trips
    byte-exactly; malformed and unsupported inputs raise the documented
    errors. (No Spark — the codec itself is plain Python.)"""
    import pytest

    from crypto_price_data_pipeline_spark.operators.multimodal import (
        png_decode,
        png_encode_gray,
    )

    data = bytes((i * 37 + 11) % 256 for i in range(64))
    for ft in range(5):
        png = png_encode_gray(data, 8, filter_type=ft)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, px = png_decode(png)
        assert (w, h) == (8, 8)
        assert bytes(v for row in px for v in row) == data, f"filter {ft}"
    with pytest.raises(ValueError):
        png_decode(b"not a png at all")
    # 16-bit / interlaced / palette are documented as unsupported
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        png_decode(bad)


def test_png_decode_rgb_and_rgba_pack_24bit():
    """Color PNGs decode to packed 0xRRGGBB ints; alpha participates in
    filter reversal but is dropped from the packed value."""
    import struct
    import zlib

    from crypto_price_data_pipeline_spark.operators.multimodal import png_decode

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    def make(color, bpp, rows):
        raw = b"".join(b"\x00" + r for r in rows)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, len(rows), 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rgb = make(2, 3, [bytes([255, 0, 0, 0, 255, 0]), bytes([0, 0, 255, 1, 2, 3])])
    w, h, px = png_decode(rgb)
    assert (w, h) == (2, 2)
    assert px == [[0xFF0000, 0x00FF00], [0x0000FF, 0x010203]]

    rgba = make(6, 4, [bytes([9, 8, 7, 255, 1, 2, 3, 0])])
    w, h, px = png_decode(rgba)
    assert (w, h) == (2, 1)
    assert px == [[0x090807, 0x010203]]


def test_decode_image_png_codec_through_spark(spark):
    """decode_image(codec='png') runs the stdlib decoder inside
    mapInPandas and round-trips real compressed PNG payloads."""
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        decode_image,
        png_encode_gray,
    )
    from pyspark.sql import functions as F

    data1 = bytes(range(16))
    data2 = bytes(reversed(range(16)))
    rows = [
        (1, bytearray(png_encode_gray(data1, 4, filter_type=4))),
        (2, bytearray(png_encode_gray(data2, 4, filter_type=2))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary").withColumn(
        "meta",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(4).alias("width"),
            F.lit(4).alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )
    out = {r["media_id"]: r for r in decode_image(media, codec="png").collect()}
    assert (out[1]["width"], out[1]["height"]) == (4, 4)
    assert bytes(v for row in out[1]["pixels"] for v in row) == data1
    assert bytes(v for row in out[2]["pixels"] for v in row) == data2


def test_wav_codec_roundtrip_pure_python():
    """WAV encode/decode round-trips int16 samples exactly (mono and
    stereo, negative values, odd-length data chunk padding); malformed
    and unsupported inputs raise the documented errors."""
    import struct

    import pytest

    from crypto_price_data_pipeline_spark.operators.multimodal import (
        wav_decode,
        wav_encode_pcm16,
    )

    mono = [0, 1, -1, 32767, -32768, 1234, -4321]
    rate, ch, out = wav_decode(wav_encode_pcm16(mono, 8000, 1))
    assert (rate, ch, out) == (8000, 1, mono)

    stereo = [10, -10, 20, -20, 30, -30]
    rate, ch, out = wav_decode(wav_encode_pcm16(stereo, 44100, 2))
    assert (rate, ch, out) == (44100, 2, stereo)

    # extra chunk before data is skipped (chunk-walking, word-aligned)
    base = wav_encode_pcm16([5, -5], 16000, 1)
    fmt_end = 12 + 8 + 16
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd length, padded
    patched = base[:fmt_end] + junk + base[fmt_end:]
    rate, ch, out = wav_decode(patched)
    assert (rate, ch, out) == (16000, 1, [5, -5])

    with pytest.raises(ValueError):
        wav_decode(b"definitely not a wav")
    with pytest.raises(ValueError):
        wav_encode_pcm16([1, 2, 3], 8000, 2)  # not a multiple of channels
    # float / non-16-bit PCM is the documented unsupported corner
    bad = bytearray(wav_encode_pcm16([1], 8000, 1))
    bad[20:22] = struct.pack("<H", 3)  # format tag 3 = IEEE float
    with pytest.raises(NotImplementedError):
        wav_decode(bytes(bad))


def test_decode_audio_wav_through_spark(spark):
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        wav_encode_pcm16,
    )
    import pytest

    rows = [
        (1, bytearray(wav_encode_pcm16([100, -200, 300], 16000, 1))),
        (2, bytearray(wav_encode_pcm16([-1, -2, -3, -4], 22050, 2))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_audio(media, codec="wav").collect()}
    assert out[1]["sample_rate"] == 16000 and out[1]["samples"] == [100, -200, 300]
    assert out[2]["n_channels"] == 2 and out[2]["samples"] == [-1, -2, -3, -4]
    with pytest.raises(NotImplementedError):
        decode_audio(media, codec="mp3")


def test_y4m_codec_roundtrip_pure_python():
    """Y4M encode/parse round-trips luma planes exactly (mono and 420 —
    chroma participates in the stride, only luma returns); header tags
    beyond W/H/C are tolerated; malformed and unsupported inputs raise
    the documented errors."""
    import pytest

    from crypto_price_data_pipeline_spark.operators.multimodal import (
        y4m_decode,
        y4m_encode,
    )

    mono = [bytes(range(16)), bytes(reversed(range(16)))]
    w, h, cs, frames = y4m_decode(y4m_encode(mono, 4, 4, colorspace="mono"))
    assert (w, h, cs, frames) == (4, 4, "mono", mono)

    y = bytes(range(16))
    f420 = y + b"\x80" * 8  # 4x4 luma + two 2x2 chroma planes
    w, h, cs, frames = y4m_decode(y4m_encode([f420], 4, 4, colorspace="420"))
    assert (w, h, cs) == (4, 4, "420") and frames == [y]

    with pytest.raises(ValueError):
        y4m_decode(b"RIFF this is not y4m")
    with pytest.raises(ValueError):
        y4m_encode([b"short"], 4, 4, colorspace="mono")
    with pytest.raises(ValueError):  # truncated frame payload
        full = y4m_encode(mono, 4, 4, colorspace="mono")
        y4m_decode(full[:-3])
    with pytest.raises(NotImplementedError):  # 422 is a gated colorspace
        y4m_decode(b"YUV4MPEG2 W4 H4 C422\n" + b"FRAME\n" + b"\x00" * 32)


def test_sample_video_frames_through_spark(spark):
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        sample_video_frames,
        y4m_encode,
    )
    import pytest

    frames = [bytes([i] * 16) for i in range(5)]
    rows = [(1, bytearray(y4m_encode(frames, 4, 4, colorspace="mono")))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = sorted(
        (r["frame_idx"], bytes(r["frame"]))
        for r in sample_video_frames(media, every_n=2).collect()
    )
    assert out == [(0, frames[0]), (2, frames[2]), (4, frames[4])]
    with pytest.raises(NotImplementedError):
        sample_video_frames(media, codec="ffmpeg")


def test_multimodal_sample_frames(spark):
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "a" * 150), (2, "b" * 10), (3, "")], "doc_id long, text string"
    )
    frames = sample_frames(
        documents_as_media(docs), every_n=2, frame_size=32
    ).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    # 150 bytes / 32 → 5 frames, sampled idx 0,2,4; last frame 22 bytes
    idx1 = sorted((r["frame_idx"], r["frame_len"]) for r in by_media[1])
    assert idx1 == [(0, 32), (2, 32), (4, 22)]
    assert all(bytes(r["frame"]) == b"a" * r["frame_len"] for r in by_media[1])
    assert [(r["frame_idx"], r["frame_len"]) for r in by_media[2]] == [(0, 10)]
    # empty payload still yields one empty frame row (schema-stable)
    assert [(r["frame_idx"], r["frame_len"]) for r in by_media[3]] == [(0, 0)]


def test_subsequence_search_finds_planted_spike(spark):
    from crypto_price_data_pipeline_spark.operators.ts_search import (
        subsequence_search,
    )

    # flat series with one planted spike shape at position 20
    rows = []
    for i in range(60):
        v = 100.0 + (3000.0 if i == 23 else 0.0) + (i % 3) * 0.1  # noise
        rows.append((i, "2024-01-01 10:%02d:00" % (i % 60), "btc", v))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    # spike pattern: the window starting at 20 has the spike at offset 3
    top = subsequence_search(df, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0], k=3).collect()
    assert top[0]["event_id"] == 20
    assert top[0]["dist"] < top[1]["dist"]
    # shape match is level-invariant: distance is tiny despite the 3000x scale
    assert top[0]["dist"] < 0.2


def test_count_min_sketch(spark):
    from crypto_price_data_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = [(i, "k%d" % (i % 7)) for i in range(700)]
    df = spark.createDataFrame(rows, "id long, k string")
    truth = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}

    sketch = cms_build(df, "k", depth=4, width=256)
    keys = df.select("k").distinct()
    est = {r["k"]: r["estimate"] for r in cms_estimate(sketch, keys, "k", depth=4, width=256).collect()}
    # CMS never underestimates; at 7 keys / 256 buckets it is exact
    assert est == truth

    # mergeability: sketch(a) + sketch(b) == sketch(a ∪ b)
    half1, half2 = df.where(F.col("id") < 350), df.where(F.col("id") >= 350)
    merged = cms_merge(
        cms_build(half1, "k", depth=4, width=256),
        cms_build(half2, "k", depth=4, width=256),
    )
    est_m = {r["k"]: r["estimate"] for r in cms_estimate(merged, keys, "k", depth=4, width=256).collect()}
    assert est_m == truth

    # unseen key estimates 0 (no counters hit) or a small collision count
    ghost = spark.createDataFrame([("nope",)], "k string")
    g = cms_estimate(sketch, ghost, "k", depth=4, width=256).collect()[0]["estimate"]
    assert g == 0


def test_ivf_topk_recall(spark):
    from crypto_price_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_topk,
    )

    # three tight synthetic clusters in 8-d
    rows = []
    for c, base in enumerate([[5.0] + [0.0] * 7, [0.0] * 4 + [5.0] + [0.0] * 3, [-5.0] + [0.0] * 7]):
        for j in range(20):
            vec = [x + ((i * 7 + j * 13 + c) % 10) * 0.01 for i, x in enumerate(base)]
            rows.append((c * 100 + j, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, centroids = ivf_build(emb, n_lists=3)
    query = [5.0, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    exact = [r["vec_id"] for r in cosine_topk(emb, query, k=5).collect()]
    approx = [r["vec_id"] for r in ivf_topk(assigned, centroids, query, k=5, n_probe=1).collect()]
    # the query's cluster is fully inside one list: recall@5 == 1
    assert approx == exact


def test_pii_scrub(spark):
    from crypto_price_data_pipeline_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_d%x@sub.example.co.uk now"),
            (2, "host 192.168.001.1 and 8.8.8.8 up"),
            (3, "call +442071838750 or +14155550199."),
            (4, "clean text stays clean"),
            (5, "v1.2.3.4.5 is a version not an ip"),
        ],
        "id int, s string",
    )
    got = {r["id"]: r["c"] for r in df.select("id", pii_scrub("s").alias("c")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "host <IP> and <IP> up"
    assert got[3] == "call <PHONE> or <PHONE>."
    assert got[4] == "clean text stays clean"
    # dotted version strings: the leading 4 octets do match the IPv4
    # pattern (word boundary at the digit edge) — documented behavior
    assert "<EMAIL>" not in got[5]


def test_scd2_history_suppresses_unchanged(spark):
    from crypto_price_data_pipeline_spark.operators.scd import scd2_history

    snaps = spark.createDataFrame(
        [
            (1, "2024-01-01", "bronze"),
            (1, "2024-01-02", "bronze"),   # unchanged → suppressed
            (1, "2024-01-03", "silver"),
            (1, "2024-01-04", "gold"),
            (2, "2024-01-01", "gold"),
        ],
        "uid int, ts string, tier string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = [
        (r["uid"], str(r["effective_from"])[:10],
         None if r["effective_to"] is None else str(r["effective_to"])[:10],
         r["tier"], r["is_current"])
        for r in scd2_history(snaps, ["uid"], "ts", ["tier"])
        .orderBy("uid", "effective_from")
        .collect()
    ]
    assert rows == [
        (1, "2024-01-01", "2024-01-03", "bronze", False),
        (1, "2024-01-03", "2024-01-04", "silver", False),
        (1, "2024-01-04", None, "gold", True),
        (2, "2024-01-01", None, "gold", True),
    ]
    # without suppression every snapshot is a version
    assert scd2_history(snaps, ["uid"], "ts", ["tier"], suppress_unchanged=False).count() == 5


def test_salted_join_spreads_hot_key(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from crypto_price_data_pipeline_spark.operators.skew import salted_join

    # 90% of rows share one hot key
    skewed = spark.range(1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    out = salted_join(skewed, dim, on=["k"], salt_buckets=8)
    plain = skewed.join(dim, "k")
    assert out.count() == plain.count()  # semantics preserved
    # the hot key's rows must occupy >1 salt bucket (i.e. >1 join task)
    n_salts = (
        skewed.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8)),
        )
        .where(F.col("k") == 7)
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_emas_chunked_rejects_bad_alpha_names(spark):
    import pytest

    from crypto_price_data_pipeline_spark.operators.series import (
        emas_by_key_chunked,
    )

    df = spark.createDataFrame([(1, 1, 1.0)], "k long, o long, v double")
    with pytest.raises(ValueError, match="not a valid"):
        emas_by_key_chunked(df, "k", ["o"], "v", {"bad name": 0.5})
    with pytest.raises(ValueError, match="collides"):
        emas_by_key_chunked(df, "k", ["o"], "v", {"k": 0.5})
    with pytest.raises(ValueError, match="collides"):
        emas_by_key_chunked(df, "k", ["o"], "v", {"n_ticks": 0.5})


def test_top_ngram_fraction_toy(spark):
    from crypto_price_data_pipeline_spark.operators.text import top_ngram_fraction

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat sat"),  # "the cat" ×2 of 8 bigrams
         (2, "a b"),                                  # single bigram → 1.0
         (3, "xyz"),                                  # no bigram → 0.0
         (4, "one two three four five six")],         # all distinct → 1/5
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["top_2gram_frac"], r["top_3gram_frac"])
        for r in top_ngram_fraction(df).collect()
    }
    assert got[1][0] == 0.25 and got[2][0] == 1.0
    assert got[3] == (0.0, 0.0)
    assert abs(got[4][0] - 0.2) < 1e-12
    # trigram mode of doc1: "the cat sat" ×2 of 7 trigrams
    assert abs(got[1][1] - 2 / 7) < 1e-12


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark):
    from crypto_price_data_pipeline_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    k, w = 8, 4
    common = "thequickbrownfoxjumps"  # len 21 >= k + w - 1 = 11
    df = spark.createDataFrame(
        [(1, "aaaa " + common + " bbbb"),
         (2, "cccc " + common + " dddd"),
         (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(df, k=k, w=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # the winnowing guarantee: shared substring >= k+w-1 chars → shared fp
    assert by_doc[1] & by_doc[2]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnowing_pairs(df, k=k, w=w, min_shared=1).collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_winnowing_hash_recode_collision_free_at_test_scale(spark):
    """winnowing_pairs counts shared xxhash64-recoded fingerprints
    while the DuckDB oracle counts raw gram strings — an intra-doc
    collision between two distinct selected grams would shrink a
    sketch and shift pair counts near min_shared (probability
    ~|sketch|^2/2^64). Pin the oracle equivalence exactly at test
    scale: on the real documents table, every doc's recoded sketch is
    the same size as its raw-gram sketch (injective on this corpus)."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import (
        _winnowing_fp_hashes,
        winnowing_fingerprints,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    raw = winnowing_fingerprints(docs, k=8, w=8).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    rec = _winnowing_fp_hashes(docs, "doc_id", "text", 8, 8).groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_rec"))
    bad = raw.join(rec, "doc_id").where(F.col("n_raw") != F.col("n_rec"))
    assert bad.count() == 0


def test_load_table_normalizes_both_timestamp_encodings(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (rounds
    1-4) and as unannotated timestamp[us] → TIMESTAMP_NTZ (round 5+).
    load_table must surface TimestampType for either encoding — the
    NTZ regression killed a full bench round once."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from crypto_price_data_pipeline_spark.io.sources import load_table

    ts = [datetime.datetime(2024, 1, 1, 10, 0, 0), datetime.datetime(2024, 1, 1, 11, 0, 0)]
    for unit in ("ns", "us"):
        d = tmp_path / f"enc_{unit}"
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit)),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": pa.array(["a", "b"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        out = load_table(spark, str(d), "events")
        assert isinstance(out.schema["ts"].dataType, T.TimestampType), unit
        got = sorted(r["ts"].replace(tzinfo=None) for r in out.collect())
        assert got == ts, unit


def test_bigram_lm_scores_orders_fluency(spark):
    """Repetitive/templated text must outscore token salad (the
    perplexity-filter ordering), and one-token docs drop out."""
    from crypto_price_data_pipeline_spark.operators.text import bigram_lm_scores

    rows = [
        (1, "the cat sat on the mat the cat sat on the mat"),
        (2, "qq zz jj xx vv kk ww yy"),
        (3, "the cat sat on the mat again today"),
        (4, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(df).collect()}
    assert 4 not in got and set(got) == {1, 2, 3}
    assert got[1] > got[3] > got[2]


def test_cross_corpus_dedup_drops_only_matches(spark):
    """dedup_against_reference: a new doc near-duplicating a REFERENCE
    doc is dropped; novel docs survive; ids may overlap between the
    corpora (bipartite join, no self-join ordering constraint)."""
    from crypto_price_data_pipeline_spark.operators.dedup import (
        dedup_against_reference,
        minhash_cross_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base + " lambda"),  # near-dup of ref doc 1, same id on purpose
            (7, "completely different words about spark catalyst plans here"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_cross_pairs(new, ref, threshold=0.4)
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    assert got == {(1, 1)}
    surv = {r["doc_id"] for r in dedup_against_reference(new, ref, threshold=0.4).collect()}
    assert surv == {7}


def test_wav_decode_rejects_truncated_chunk():
    """A chunk declaring more bytes than remain is corruption — raise,
    don't silently truncate the decoded audio (r10 ADVICE)."""
    import struct

    import pytest

    from crypto_price_data_pipeline_spark.operators.multimodal import (
        wav_decode,
        wav_encode_pcm16,
    )

    wav = wav_encode_pcm16([1, -2, 3, -4], 8000, 1)
    # inflate the data chunk's declared length past the payload end
    idx = wav.rindex(b"data")
    bad = wav[: idx + 4] + struct.pack("<I", 10_000) + wav[idx + 8 :]
    with pytest.raises(ValueError, match="chunk .* declares"):
        wav_decode(bad)


def test_decode_operators_on_error_skip_drops_bad_rows(spark):
    """on_error='skip' drops undecodable payloads per ROW instead of
    failing the stage; the default ('raise') keeps the strict
    contract (r10 ADVICE)."""
    import pytest

    from crypto_price_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        png_encode_gray,
        sample_video_frames,
        wav_encode_pcm16,
        y4m_encode,
    )

    good_png = png_encode_gray(bytes(range(16)), 4)
    good_wav = wav_encode_pcm16([5, -6, 7, -8], 8000, 1)
    good_y4m = y4m_encode([bytes(16)], 4, 4, "mono")
    rows = [
        (1, bytearray(good_png), bytearray(good_wav), bytearray(good_y4m)),
        (2, bytearray(b"garbage"), bytearray(b"garbage"), bytearray(b"garbage")),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, png binary, wav binary, y4m binary"
    )
    img = decode_image(
        df.select("media_id", F.col("png").alias("payload")),
        codec="png", on_error="skip",
    )
    assert [r["media_id"] for r in img.collect()] == [1]
    aud = decode_audio(
        df.select("media_id", F.col("wav").alias("payload")), on_error="skip"
    )
    assert [r["media_id"] for r in aud.collect()] == [1]
    vid = sample_video_frames(
        df.select("media_id", F.col("y4m").alias("payload")), on_error="skip"
    )
    assert {r["media_id"] for r in vid.collect()} == {1}
    # strict default still fails the job on the bad row
    with pytest.raises(Exception):
        decode_audio(
            df.select("media_id", F.col("wav").alias("payload"))
        ).collect()
    # unknown policy rejected at construction
    with pytest.raises(ValueError, match="on_error"):
        decode_audio(
            df.select("media_id", F.col("wav").alias("payload")),
            on_error="ignore",
        )


def test_wav_query_encoder_total_over_high_bytes():
    """The q_wav_decode byte→int16 mapping must be total: bytes >= 192
    (every UTF-8 lead byte) overflowed int16 under v*257-16384 and
    struct.pack killed the job; the 7-bit mask keeps ASCII values
    identical and never overflows (r10 ADVICE)."""
    from crypto_price_data_pipeline_spark.operators.multimodal import (
        wav_decode,
        wav_encode_pcm16,
    )

    for v in (0, 65, 127, 128, 191, 192, 255):
        s = (v & 0x7F) * 257 - 16384
        assert -32768 <= s <= 32767
        rate, ch, out = wav_decode(wav_encode_pcm16([s], 8000, 1))
        assert out == [s]
    # ASCII identity: mask changes nothing below 128
    assert [(v & 0x7F) * 257 - 16384 for v in range(128)] == [
        v * 257 - 16384 for v in range(128)
    ]


def test_winnowing_packed_and_fallback_paths_agree(spark):
    """k ≤ 9 uses the packed-long gram path, k > 9 the xxhash64 string
    fallback — both must select the same grams (per-doc sketch sizes
    equal the raw string selection) and produce identical pair
    structure regardless of recode."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import (
        _winnowing_fp_hashes,
        winnowing_fingerprints,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(50)
    for k in (8, 10):
        raw = {
            r["doc_id"]: r["n"]
            for r in winnowing_fingerprints(docs, k=k, w=8)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rec = {
            r["doc_id"]: r["n"]
            for r in _winnowing_fp_hashes(docs, "doc_id", "text", k, 8)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert rec == raw, f"k={k} sketch sizes diverge from string selection"


def test_wav_query_fails_loudly_on_non_ascii_corpus(spark, tmp_path):
    """q_wav_decode's engine maps per UTF-8 BYTE while its oracle maps
    per CHARACTER — identical only on pure-ASCII text. A non-ASCII
    corpus must fail the job with a targeted message instead of
    silently hash-diverging from the oracle (r11 ADVICE)."""
    import os

    import pytest

    from crypto_price_data_pipeline_spark.queries_ext3 import q_wav_decode

    d = str(tmp_path / "sf_nonascii")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "plain ascii text"), (2, "café au lait")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    with pytest.raises(Exception, match="non-ASCII byte"):
        q_wav_decode(spark, d).collect()


def test_simhash_md5_external_vocab_bit_identical(spark):
    """r16 (guide §2.4): simhash_md5 with a caller-supplied vocabulary
    (the artifact build passes the counting cube's token set) must be
    bit-identical to the self-derived-vocabulary form — including when
    the supplied vocab is a strict SUPERSET of the corpus tokens
    (extra rows must not perturb any fingerprint)."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.dedup import (
        simhash_md5,
        tokens_col,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "beta gamma delta"),
            (3, "unrelated words entirely different"),
            (4, "alpha beta gamma alpha"),
        ],
        "doc_id long, text string",
    )
    ref = {
        r["doc_id"]: r["simhash32"] for r in simhash_md5(docs).collect()
    }
    exact_vocab = docs.select(
        F.explode(tokens_col("text")).alias("_t")
    ).distinct()
    superset = exact_vocab.union(
        spark.createDataFrame([("neverseen",), ("zzz9",)], "_t string")
    )
    for vocab in (exact_vocab, superset):
        got = {
            r["doc_id"]: r["simhash32"]
            for r in simhash_md5(docs, vocab=vocab).collect()
        }
        assert got == ref


def test_simhash_md5_duplicated_vocab_same_fingerprints(spark):
    """A vocabulary with repeated rows (the counting cube holds one row
    per (word, lang)) gives the same fingerprints: each copy of a token
    would otherwise join its occurrences again and multiply its votes."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.dedup import (
        simhash_md5,
        tokens_col,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "beta gamma delta"),
            (3, "unrelated words entirely different"),
        ],
        "doc_id long, text string",
    )
    ref = {r["doc_id"]: r["simhash32"] for r in simhash_md5(docs).collect()}
    vocab = docs.select(F.explode(tokens_col("text")).alias("_t"))  # a row per occurrence
    # "alpha" and "gamma" once more: uneven copies change the votes' balance
    vocab = vocab.union(spark.createDataFrame([("alpha",), ("gamma",)], "_t string"))
    got = {r["doc_id"]: r["simhash32"] for r in simhash_md5(docs, vocab=vocab).collect()}
    assert got == ref
