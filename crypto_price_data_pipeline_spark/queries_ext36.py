"""Wave 36 [EXT] (r13): four families.

1. CUBE-SERVED CORPUS MODELING — consumers of the (w, lang, nib, c,
   df) counting cube (artifacts.token_lang_counts) whose MODEL side
   is a vocabulary-sized aggregation over the stored cube instead of
   a per-query corpus pass (the r12 verdict's top item; the
   counting-only q_vocab_coverage / q_word_freq rewrites live in
   their original modules). q_nb_language_id is the per-document
   classifier case: the corpus tokenize is irreducible (each doc
   must be scored) but the model comes from the cube for free.
   q_language_id (queries_ext3.py) keeps its constant stopword
   profile: same irreducible scoring shape, no counting pass to
   remove.
2. DUP-HEAVY PAIR STRATEGIES — q_winnow_dupheavy / q_overlap_dupheavy
   pin the text-identity collapse paths on 60×-exact-replica corpora
   (see the section comment below).
3. MERGEABLE QUANTILE SKETCH — q_quantile_sketch / q_stream_quantile
   (bottom-k-by-hash value samples, the KMV semilattice) — plus the
   sketch family's decontamination use: q_kmv_contamination monitors
   per-source train/held 8-gram overlap from two ≤k-long sketches
   (the cheap continuous twin of the exact q_contamination audit).
4. COMPRESSED CODEC QUERIES — q_jpeg_decode / q_flac_decode /
   q_mjpeg_frames drive the r13 pure-Python baseline JPEG, FLAC and
   MJPEG-AVI codecs end-to-end through the multimodal plumbing
   (lossless FLAC oracled value-exact; lossy JPEG/MJPEG through
   in-plan error gates the oracle pins per row).

Determinism contract (shared with q_dsir_sample): each smoothed
probability p_L(w) = (c_{w,L}+1)/(N_L+V) is ONE double division of
exactly-representable integer factors — bit-identical in Spark and
DuckDB; per-doc sums go through DECIMAL(38,18) (order-free), and the
mean divides once. Argmax ties resolve en > de > es > fr, token-less
docs → 'und' — the same contract as q_language_id.

Reference parity: [EXT] — the reference (bpi_crawler.py) has no
corpus tooling; this extends the driver-mandated text-analysis
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query

_LANGS = ["en", "de", "es", "fr"]


@query(oracle=lambda: _nb_sql())
def q_nb_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Naive-Bayes-style language ID: score each doc by
    the MEAN per-token POSTERIOR under each language's corpus-trained
    smoothed unigram model (uniform prior: posterior_L(w) =
    p_L(w) / Σ_L' p_L'(w)), predict the argmax (ties en > de > es >
    fr, token-less docs 'und'). Normalizing per token keeps corpus-
    common tokens from swamping the signal (they contribute ≈1/4 to
    every language) — the raw-probability mean measured 0.30 accuracy
    on the sf0.001 corpus vs 0.45 majority floor; the posterior mean
    separates. The model — per-(token, lang) add-one probabilities —
    is a vocab-sized aggregation over the stored counting cube and
    broadcasts to the scoring join; the single tokenize+explode in
    this plan is the irreducible per-doc scoring pass (one shuffle:
    the per-doc mean). Each posterior is a fixed-order double
    expression over exactly-representable integer factors, so both
    engines compute it bit-identically (the q_dsir_sample contract).
    Self-labeling on the training corpus is the point of the shape,
    not the application: swap the cube for one built on labeled data
    and the query scores any unlabeled corpus unchanged."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col
    from .session import scale_out

    tc = token_lang_counts(spark, sf)
    totals = tc.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("lang") == L, F.col("c"))), F.lit(0)
            ).alias(f"_n_{L}")
            for L in _LANGS
        ],
        F.countDistinct("w").alias("_v"),
    )
    model = (
        tc.groupBy("w")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("lang") == L, F.col("c"))), F.lit(0)
                ).alias(f"_c_{L}")
                for L in _LANGS
            ]
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            *[
                (
                    (F.col(f"_c_{L}") + 1).cast("double")
                    / (F.col(f"_n_{L}") + F.col("_v")).cast("double")
                ).alias(f"_q_{L}")
                for L in _LANGS
            ],
        )
        # fixed-order sum: en+de+es+fr, identically parenthesized in
        # the oracle SQL, so the double rounding sequence matches
        .withColumn(
            "_qs",
            F.col("_q_en") + F.col("_q_de") + F.col("_q_es") + F.col("_q_fr"),
        )
        .select(
            "w",
            *[
                (F.col(f"_q_{L}") / F.col("_qs"))
                .cast("decimal(38,18)")
                .alias(f"_p_{L}")
                for L in _LANGS
            ],
        )
    )
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    scored = (
        scale_out(docs)
        .select(
            "doc_id", "lang", F.explode_outer(tokens_col("text")).alias("w")
        )
        .join(F.broadcast(model), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("w").alias("_nw"),
            *[F.sum(f"_p_{L}").alias(f"_sp_{L}") for L in _LANGS],
        )
        .select(
            "doc_id",
            "lang",
            "_nw",
            *[
                (F.col(f"_sp_{L}").cast("double") / F.col("_nw")).alias(f"_s_{L}")
                for L in _LANGS
            ],
        )
    )
    g = F.greatest(*[F.col(f"_s_{L}") for L in _LANGS])
    pred = F.when(F.col("_nw") == 0, F.lit("und"))
    for L in _LANGS:
        pred = pred.when(F.col(f"_s_{L}") == g, F.lit(L))
    return (
        scored.select("doc_id", "lang", pred.alias("nb_pred"))
        .orderBy("doc_id")
    )


def _nb_sql() -> str:
    sums = "\n".join(
        f"         SUM(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS n_{L},"
        for L in _LANGS
    )
    wcs = ",\n".join(
        f"         SUM(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS c_{L}"
        for L in _LANGS
    )
    qexprs = ",\n".join(
        f"         CAST(wc.c_{L} + 1 AS DOUBLE) / CAST(tot.n_{L} + tot.v AS DOUBLE) AS q_{L}"
        for L in _LANGS
    )
    probs = ",\n".join(
        f"         CAST(q_{L} / (q_en + q_de + q_es + q_fr)"
        f" AS DECIMAL(38,18)) AS p_{L}"
        for L in _LANGS
    )
    means = ",\n".join(
        f"         CAST(SUM(m.p_{L}) AS DOUBLE) / COUNT(*) AS s_{L}" for L in _LANGS
    )
    glist = ", ".join(f"s.s_{L}" for L in _LANGS)
    cases = "\n".join(
        f"              WHEN s.s_{L} = GREATEST({glist}) THEN '{L}'" for L in _LANGS
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents
),
tot AS (
  SELECT
{sums}
         COUNT(DISTINCT w) AS v
  FROM tok
),
wc AS (
  SELECT w,
{wcs}
  FROM tok GROUP BY 1
),
q AS (
  SELECT wc.w,
{qexprs}
  FROM wc CROSS JOIN tot
),
model AS (
  SELECT w,
{probs}
  FROM q
),
scored AS (
  SELECT t.doc_id,
{means}
  FROM tok t JOIN model m ON t.w = m.w
  GROUP BY 1
)
SELECT d.doc_id, d.lang,
       COALESCE(CASE
{cases}
            END, 'und') AS nb_pred
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


# ------------------- dup-heavy strategies: winnowing / ngram-overlap
#
# r13, closing the r12 verdict's #3 item: the two remaining pair
# families meet the exact-replica (re-crawl) regime through the new
# text-identity collapse strategy. Measured motivation (sf0.001
# quarter, exact replicas): winnowing's df cap SILENTLY ZEROES
# clusters past max_doc_freq members (R=60 → 0 pairs where R=48 found
# 116k), and ngram_overlap has no cap at all (R=120 → quadratic
# posting work). Collapse factors both by identical-text groups —
# candidate work O(distinct texts), expansion output-sized — and the
# oracles below reproduce the full pair mass by replica ALGEBRA over
# per-original sketches (the q_minhash_dupheavy contract).

_WD_R = 60  # replica multiplicity — deliberately PAST the df cap
_SUB_NIBBLES = ("0", "1", "2", "3")


def _exact_replicas(docs: DataFrame, r: int, *keep: str) -> DataFrame:
    """r EXACT copies of every doc (same text, ids doc_id·r + rep) —
    the re-crawl regime, as opposed to queries_ext34's near-dup
    replicas (marker-token-appended, globally-unique text)."""
    return docs.selectExpr(
        f"explode(sequence(0, {r - 1})) as _r", "doc_id", "text", *keep
    ).selectExpr(f"doc_id * {r} + _r as doc_id", "text", *keep)


@query(oracle=lambda: _winnow_dupheavy_oracle())
def q_winnow_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing near-dup pairs on a 60×-exact-replica corpus — PAST
    the stop-fingerprint cliff (every cluster fingerprint's raw df is
    60 > max_doc_freq=50, so strategy="plain" measurably returns ZERO
    pairs). strategy="collapse" groups by text identity first, so the
    df cap counts DISTINCT TEXTS (the boilerplate definition a
    re-crawl corpus wants), candidate work is O(originals), and the
    C(60,2)-per-cluster pair mass comes from output-sized expansion.
    Output is the dup-heavy family's standard algebra-checkable form:
    per (within-cluster?, n_shared) pair counts + id-sum checksums.
    The originals are exact-deduped by text before replication so the
    oracle's group-≡-original algebra holds at any sf."""
    from .operators.dedup import exact_dedup
    from .operators.text import winnowing_pairs

    R = _WD_R
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    orig = exact_dedup(docs.where(nib.isin(*_SUB_NIBBLES)), ["text"], "doc_id")
    dup = _exact_replicas(orig.select("doc_id", "text"), R)
    pairs = winnowing_pairs(dup, strategy="collapse")
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, "n_shared")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "n_shared")
    )


def _winnow_dupheavy_oracle(r: int = _WD_R) -> str:
    # member ids of original o are o·r + 0..r-1; with S(o) = Σ ids =
    # o·r² + r(r-1)/2:  within pairs — each member in (r-1) pairs →
    # id_sum = (r-1)·S(o), n = C(r,2); cross pairs (a,b) — id_sum =
    # r·S(a) + r·S(b) = r³(a+b) + r²(r-1), n = r² (orientation-free:
    # the checksum sums id_a+id_b, invariant under least/greatest)
    c2 = r * (r - 1) // 2
    within_ids = f"{(r - 1) * r * r} * doc_id + {(r - 1) * c2}"
    cross_ids = f"{r**3} * (a.doc_id + b.doc_id) + {r * r * (r - 1)}"
    nibs = ", ".join(f"'{n}'" for n in _SUB_NIBBLES)
    return f"""
WITH quarter AS (
  SELECT doc_id, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({nibs})
),
orig AS (SELECT MIN(doc_id) AS doc_id, text FROM quarter GROUP BY text),
clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM orig
),
pos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM clean
),
pos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM pos0),
wins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM pos
),
fp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wins WHERE i <= greatest(n_grams - 7, 1)
),
rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 50),
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint)),
nfp AS (SELECT doc_id, COUNT(*) AS nfp FROM p GROUP BY 1),
rp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ns
  FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
),
cross_rows AS (
  SELECT FALSE AS within, ns AS n_shared,
         CAST(COUNT(*) * {r * r} AS BIGINT) AS n_pairs,
         CAST(SUM({r**3} * (a_id + b_id) + {r * r * (r - 1)}) AS BIGINT) AS id_sum
  FROM rp GROUP BY ns
),
within_rows AS (
  SELECT TRUE AS within, nfp AS n_shared,
         CAST(COUNT(*) * {c2} AS BIGINT) AS n_pairs,
         CAST(SUM({within_ids}) AS BIGINT) AS id_sum
  FROM nfp WHERE nfp >= 10 GROUP BY nfp
)
SELECT * FROM cross_rows
UNION ALL SELECT * FROM within_rows
ORDER BY within, n_shared
"""


@query(oracle=lambda: _overlap_dupheavy_oracle())
def q_overlap_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs on the same
    60×-exact-replica corpus, language-blocked. ngram_overlap_pairs
    has NO stop-shingle cap (common shingles ARE the containment
    signal), so strategy="plain" does Σ|shingles|·C(m,2) posting work
    in this regime — measured quadratic. strategy="collapse" is
    bit-identical to plain on EVERY corpus (identical text ⇒ identical
    shingle set; no df semantics involved) with O(distinct texts)
    candidate work. Same algebra-checkable output form as
    q_winnow_dupheavy; within-cluster overlap is exactly 1.0."""
    from .operators.dedup import exact_dedup, ngram_overlap_pairs

    R = _WD_R
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    orig = exact_dedup(
        docs.where(nib.isin(*_SUB_NIBBLES)), ["lang", "text"], "doc_id"
    )
    dup = _exact_replicas(orig.select("doc_id", "text", "lang"), R, "lang")
    pairs = ngram_overlap_pairs(
        dup, block_cols=["lang"], k=3, threshold=0.6, strategy="collapse",
        max_docs=None,
    )
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, F.round("overlap", 9).alias("overlap"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "overlap")
    )


def _overlap_dupheavy_oracle(r: int = _WD_R) -> str:
    c2 = r * (r - 1) // 2
    within_ids = f"{(r - 1) * r * r} * doc_id + {(r - 1) * c2}"
    nibs = ", ".join(f"'{n}'" for n in _SUB_NIBBLES)
    return f"""
WITH quarter AS (
  SELECT doc_id, lang, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({nibs})
),
orig AS (
  SELECT MIN(doc_id) AS doc_id, lang, text FROM quarter GROUP BY lang, text
),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM orig
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
rp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)), 9) AS ov
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / least(len(a.sh), len(b.sh)) >= 0.6
),
cross_rows AS (
  SELECT FALSE AS within, ov AS overlap,
         CAST(COUNT(*) * {r * r} AS BIGINT) AS n_pairs,
         CAST(SUM({r**3} * (a_id + b_id) + {r * r * (r - 1)}) AS BIGINT) AS id_sum
  FROM rp GROUP BY ov
),
within_rows AS (
  SELECT TRUE AS within, 1.0 AS overlap,
         CAST(COUNT(*) * {c2} AS BIGINT) AS n_pairs,
         CAST(SUM({within_ids}) AS BIGINT) AS id_sum
  FROM sh WHERE len(sh) > 0
)
SELECT * FROM cross_rows
UNION ALL SELECT * FROM within_rows WHERE n_pairs > 0
ORDER BY within, overlap
"""


# --------------------------------------- mergeable quantile sketch


def _quantile_sketch_from_events(ev: DataFrame, k: int = 128) -> DataFrame:
    """Core of q_quantile_sketch over an (event_type, day: DATE,
    event_id, value) frame — factored so units can feed a synthetic
    multi-month corpus (the r13 verdict's aliasing note: daily cells
    MUST key on a calendar date, not ``dayofmonth``)."""
    from .operators.sketch import (
        kmv_sample,
        kmv_sample_explode,
        kmv_sample_from_hashes,
        kmv_sample_quantile,
    )

    daily = kmv_sample(
        ev, F.col("event_id"), F.col("value"), ["event_type", "day"], k=k
    )
    days = ev.select("day").distinct().withColumnRenamed("day", "wday")
    spread = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "smp",
    ).join(F.broadcast(days), "wday")
    # presalt=False: bounded merge input (≤ 7·k rows per group at any
    # corpus size), same argument as q_kmv_rolling
    merged = kmv_sample_from_hashes(
        kmv_sample_explode(spread, ["event_type", "wday"], k=k),
        ["event_type", "wday"],
        k=k,
        presalt=False,
    )
    return merged.select(
        "event_type",
        F.col("wday").alias("day"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.5), 9).alias("p50_7d"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.9), 9).alias("p90_7d"),
    ).orderBy("event_type", "day")


@query
def q_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day p50/p90 of event value per event type from MERGED
    daily bottom-k-by-hash samples (operators.sketch.kmv_sample) — the
    quantile complement of q_kmv_rolling: the built-in
    percentile_approx (KLL) cannot merge STORED partials at the SQL
    surface and is not bit-reproducible across engines, while the
    bottom-k sample is a semilattice (daily samples re-rank into any
    window's sample EXACTLY — merge ≡ whole) and membership is a pure
    function of md5, so the DuckDB oracle reproduces sample AND
    quantile bit-for-bit. Daily samples fan out to the ≤7
    CALENDAR-DATE windows they cover (k-long arrays, never event rows
    — the q_kmv_rolling shape; ``to_date`` keys, so a multi-month
    corpus can never alias same day-of-month cells) and the quantile
    is the deterministic lower-nearest-rank value, no interpolation.
    k=128: unit pins <10% median relative error vs the exact rolling
    quantile."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "event_id", "value"
    )
    return _quantile_sketch_from_events(ev, k=128)


Q_QUANTILE_SKETCH_SQL = r"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, event_id, value FROM events
),
h AS (
  SELECT event_type, day, value,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ev
),
dh AS (SELECT DISTINCT event_type, day, hv, value FROM h),
rk AS (
  SELECT event_type, day, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv, value) AS rn
  FROM dh
),
daily AS (SELECT event_type, day, hv, value FROM rk WHERE rn <= 128),
spread AS (
  SELECT event_type, day + CAST(off AS INTEGER) AS wday, hv, value
  FROM (SELECT *, unnest(range(0, 7)) AS off FROM daily)
  WHERE day + CAST(off AS INTEGER)
        IN (SELECT DISTINCT CAST(ts AS DATE) FROM events)
),
d2 AS (SELECT DISTINCT event_type, wday, hv, value FROM spread),
rk2 AS (
  SELECT event_type, wday, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, wday ORDER BY hv, value) AS rn
  FROM d2
),
sk AS (
  SELECT event_type, wday, list_sort(list(value)) AS vals
  FROM rk2 WHERE rn <= 128 GROUP BY 1, 2
)
SELECT event_type, wday AS day,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.5) AS INTEGER), 1)], 9) AS p50_7d,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.9) AS INTEGER), 1)], 9) AS p90_7d
FROM sk ORDER BY 1, 2
"""


@query
def q_stream_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed per-type value quantiles (p50/p90) from an
    INCREMENTALLY maintained bottom-k value sample — the 20th
    partial-store stream (crash/restart-covered by name). Each
    micro-batch lands its own batch-local sample as a per-batch_id
    partial (overwrite replay contract); the read side re-ranks the
    exploded union — correct because bottom-k sampling is the same
    semilattice as the distinct sketch (any member of the corpus
    sample is a member of the batch sample that introduced it; merge ≡
    whole is unit-pinned bit-exact for kmv_sample). A corpus append
    costs one batch sample, never a rescan. The oracle rebuilds the
    whole-corpus sample and the lower-nearest-rank quantiles exactly —
    streamed ≡ batch by construction."""
    from .operators.sketch import (
        kmv_sample,
        kmv_sample_explode,
        kmv_sample_from_hashes,
        kmv_sample_quantile,
    )
    from .streaming.partial_store import day_chunk_expr, stream_partials

    k = 256
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # schema-INFERRED read: the parquet footer restores the sample's
    # (k, hash_bits) stamp, so a cross-k merge hard-fails here
    stored = stream_partials(
        spark,
        ev,
        day_chunk_expr(),
        lambda b: kmv_sample(b, F.col("event_id"), F.col("value"), ["event_type"], k=k),
        "stream_quantile_",
        infer_schema=True,
    )
    merged = kmv_sample_from_hashes(
        kmv_sample_explode(stored, ["event_type"], k=k), ["event_type"], k=k
    )
    return merged.select(
        "event_type",
        F.round(kmv_sample_quantile(F.col("smp"), 0.5), 9).alias("p50"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.9), 9).alias("p90"),
    ).orderBy("event_type")


Q_STREAM_QUANTILE_SQL = r"""
WITH h AS (
  SELECT event_type, value,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM events
),
dh AS (SELECT DISTINCT event_type, hv, value FROM h),
rk AS (
  SELECT event_type, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, value) AS rn
  FROM dh
),
sk AS (
  SELECT event_type, list_sort(list(value)) AS vals
  FROM rk WHERE rn <= 256 GROUP BY 1
)
SELECT event_type,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.5) AS INTEGER), 1)], 9) AS p50,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.9) AS INTEGER), 1)], 9) AS p90
FROM sk ORDER BY 1
"""


# -------------------------------------------- compressed image codec


def _contamination_keyed(docs: DataFrame) -> DataFrame:
    """(source, _split, _g) shingle rows for the contamination monitor:
    word-8-gram keys (space-joined literal token strings, the
    q_vocab_coverage rule) under the md5-nibble train/held split —
    shared by the batch monitor and its streamed twin."""
    from .operators.dedup import tokens_col

    held = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "c", "d", "e", "f"
    )
    toks = tokens_col("text")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(7), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
    )
    return docs.select(
        "source",
        F.when(held, F.lit("held")).otherwise(F.lit("train")).alias("_split"),
        F.explode(sh).alias("_g"),
    )


_CONTAM_K = 256


def _contamination_partial(docs: DataFrame) -> DataFrame:
    """Per-(source, split) bottom-k shingle sketches of ``docs``."""
    from .operators.sketch import kmv_build

    return kmv_build(_contamination_keyed(docs), F.col("_g"), ["source", "_split"], k=_CONTAM_K)


def _contamination_output(sk: DataFrame, k: int) -> DataFrame:
    """Per-source train/held estimator rows from the (source, _split)
    sketch table — pure array algebra over the stored cells."""
    from .operators.sketch import kmv_pair_stats

    tr = sk.where(F.col("_split") == "train").select(
        "source", F.col("kmv").alias("_a")
    )
    he = sk.where(F.col("_split") == "held").select(
        "source", F.col("kmv").alias("_b")
    )
    stats = kmv_pair_stats(F.col("_a"), F.col("_b"), k)
    return (
        tr.join(he, "source")
        .select(
            "source",
            F.round(stats["est_jaccard"], 9).alias("est_jaccard"),
            F.round(stats["est_union"], 6).alias("est_union"),
            F.round(stats["est_intersection"], 6).alias("est_intersection"),
        )
        .orderBy("source")
    )


@query
def q_kmv_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/held n-gram contamination MONITOR from KMV sketches: per
    source, the estimated Jaccard / union / intersection of the word-
    8-gram shingle sets of the train split vs the held split (the
    q_vocab_coverage md5-nibble rule). This is the sketch's
    decontamination use: the EXACT check (q_contamination) re-joins
    n-gram postings per audit, while two ≤k-long sketches per
    (source, split) answer "how contaminated is this source's held
    split, roughly, right now" as pure array algebra over stored
    cells — at 100 TB the sketches ride the warehouse and the monitor
    is a broadcast-sized join, no corpus rescan. Shingle keys are the
    literal space-joined token strings, so the DuckDB oracle rebuilds
    sketch AND estimator bit-exactly (the q_kmv_overlap contract);
    k=256 per (source, split)."""
    from .session import scale_out

    docs = load_table(spark, sf, "documents").select("doc_id", "source", "text")
    return _contamination_output(_contamination_partial(scale_out(docs)), _CONTAM_K)


@query(twin_of="q_kmv_contamination")
def q_stream_kmv_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_kmv_contamination (same oracle): the per-(source,
    split) shingle sketches maintained INCREMENTALLY — each micro-batch
    lands its own batch-local sketches as a per-batch_id partial
    (overwrite replay contract, streaming/partial_store.py — the 21st
    partial-store stream, crash/restart-covered by name) and the
    monitor reads by re-ranking the exploded union of stored partials.
    Correct because bottom-k is a semilattice (merge ≡ whole, the
    q_stream_kmv argument). This is the monitor's production shape: a
    corpus append costs one batch sketch; the continuous contamination
    readout never rescans the corpus."""
    from .operators.sketch import kmv_explode, kmv_from_hashes
    from .streaming.partial_store import stream_partials

    k = _CONTAM_K
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "text")
    # schema-INFERRED read: the parquet footer restores the (k,
    # hash_bits) stamp, so a cross-k partial merge hard-fails here
    stored = stream_partials(
        spark,
        docs,
        F.col("doc_id") % 3,
        _contamination_partial,
        "stream_kmv_contam_",
        infer_schema=True,
    )
    merged = kmv_from_hashes(
        kmv_explode(stored, ["source", "_split"], k=k), ["source", "_split"], k=k
    )
    return _contamination_output(merged, k)


Q_KMV_CONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
              THEN 'held' ELSE 'train' END AS split,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT source, split,
         unnest(list_transform(range(1, CAST(greatest(len(t) - 7, 1) AS BIGINT) + 1),
                i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
h AS (
  SELECT DISTINCT source, split,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM grams
),
rk AS (
  SELECT source, split, hv,
         ROW_NUMBER() OVER (PARTITION BY source, split ORDER BY hv) AS rn
  FROM h
),
sk AS (
  SELECT source, split, list_sort(list(hv)) AS s
  FROM rk WHERE rn <= 256 GROUP BY 1, 2
),
m AS (
  SELECT a.source, a.s AS sa, b.s AS sb,
         list_sort(list_distinct(a.s || b.s))[1:256] AS su
  FROM sk a JOIN sk b ON a.source = b.source
  WHERE a.split = 'train' AND b.split = 'held'
),
est AS (
  SELECT source,
         CAST(len(list_intersect(su, list_intersect(sa, sb))) AS DOUBLE) / len(su) AS jac,
         CASE WHEN len(su) < 256 THEN CAST(len(su) AS DOUBLE)
              ELSE 255.0 / (CAST(su[256] AS DOUBLE) / 1152921504606846976.0) END AS eu
  FROM m
)
SELECT source, ROUND(jac, 9) AS est_jaccard,
       ROUND(eu, 6) AS est_union, ROUND(jac * eu, 6) AS est_intersection
FROM est ORDER BY source
"""


@query
def q_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Real COMPRESSED image decode through the multimodal plumbing
    (r13): each document's first 256 bytes become a 16×16 grayscale
    baseline JPEG via the pure-numpy encoder (operators/jpeg.py), then
    ``decode_image(codec="jpeg")`` decodes the real DCT/Huffman
    bitstreams back to pixel tensors inside Arrow-batched mapInPandas.
    JPEG is lossy, so decode(encode(x)) == x cannot gate it the
    q_png_decode way; instead the query joins the decoded tensor back
    to the original bytes and enforces an IN-PLAN error gate (the ANN
    recall-floor pattern): max |decoded − original| ≤ 16 per image
    (measured ≤7 at quality 95 on this corpus — 2× margin). The
    oracle pins (media_id, dims, gate) for EVERY document, so a codec
    regression — wrong dims, undecodable stream, error blowup — drops
    or flips rows and fails the comparison."""
    import pandas as _pd

    from .operators.jpeg import jpeg_encode
    from .operators.multimodal import decode_image
    from .session import scale_out

    docs = load_table(spark, sf, "documents")
    # scale_out: the codec work is pure Python per row — a single-file
    # local scan would otherwise run the whole encode/decode on one
    # core (at 100 TB the scan has thousands of splits and this no-ops)
    media = scale_out(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.substring("text", 1, 256), "UTF-8").alias("raw"),
        )
    )

    def to_jpeg(batches):
        import numpy as _np

        for pdf in batches:
            payloads = []
            for raw in pdf["raw"]:
                b = bytes(raw or b"")[:256]
                b = b + b"\x00" * (256 - len(b))
                a = _np.frombuffer(b, dtype=_np.uint8).reshape(16, 16)
                payloads.append(jpeg_encode(a, quality=95))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    jpegs = media.mapInPandas(to_jpeg, "media_id long, payload binary")
    decoded = decode_image(jpegs, codec="jpeg")

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def img_err(pixels, raw):
        import numpy as _np

        out = []
        for px, r in zip(pixels, raw):
            b = bytes(r or b"")[:256]
            b = b + b"\x00" * (256 - len(b))
            a = _np.concatenate([_np.asarray(row) for row in px]).astype(int)
            out.append(int(_np.abs(a - _np.frombuffer(b, _np.uint8)).max()))
        return _pd.Series(out)

    return (
        # originals come from `media`, not `jpegs` (the q_mjpeg_frames
        # rule): joining the encoded branch would re-run the whole
        # JPEG encode just to carry the raw bytes through
        decoded.join(media, "media_id")
        .select(
            "media_id",
            "width",
            "height",
            (img_err(F.col("pixels"), F.col("raw")) <= F.lit(16)).alias(
                "within_bound"
            ),
        )
        .where("within_bound")
        .orderBy("media_id")
    )


Q_JPEG_DECODE_SQL = """
SELECT doc_id AS media_id, 16 AS width, 16 AS height, TRUE AS within_bound
FROM documents ORDER BY doc_id
"""


@query
def q_flac_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Real COMPRESSED audio decode through the multimodal plumbing
    (r13): each document's first 64 bytes map to deterministic int16
    samples (the q_wav_decode rule: ascii·257 − 16384), are encoded
    as spec-valid FLAC (pure-Python encoder, rice-coded order-2 fixed
    predictor, CRC-8/16) and ``decode_audio(codec="flac")`` parses
    the compressed bitstream back inside Arrow-batched mapInPandas.
    FLAC is LOSSLESS, so unlike q_jpeg_decode the oracle checks
    decode(encode(x)) == x VALUE-EXACTLY per clip — sum and
    position-weighted checksums reproduced from the raw text bytes.
    Same non-ASCII guard as q_wav_decode (the engine maps per byte,
    the oracle per character)."""
    import pandas as _pd

    from .operators.flac import flac_encode_pcm16
    from .operators.multimodal import decode_audio
    from .session import scale_out

    docs = load_table(spark, sf, "documents")
    # scale_out: same single-split guard as q_jpeg_decode — the
    # pure-Python FLAC encode must not run on one core locally
    media = scale_out(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.substring("text", 1, 64), "UTF-8").alias("raw"),
        )
    )

    def to_flac(batches):
        for pdf in batches:
            payloads = []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                b = bytes(raw or b"")[:64]
                if any(v >= 0x80 for v in b):
                    raise ValueError(
                        f"q_flac_decode: non-ASCII byte in doc {mid}: the "
                        "per-byte engine mapping and the per-character "
                        "oracle diverge on non-ASCII text — extend both "
                        "together before admitting such a corpus"
                    )
                b = b + b"\x00" * (64 - len(b))
                samples = [(v & 0x7F) * 257 - 16384 for v in b]
                payloads.append(
                    flac_encode_pcm16(samples, 16_000, 1, subframe="fixed2")
                )
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    flacs = media.mapInPandas(to_flac, "media_id long, payload binary")
    decoded = decode_audio(flacs, codec="flac")
    weighted = F.zip_with(
        "samples", F.sequence(F.lit(1), F.lit(64)), lambda v, i: v.cast("long") * i
    )
    return decoded.select(
        "media_id",
        "sample_rate",
        "n_channels",
        F.aggregate("samples", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "s_sum"
        ),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "s_dot"
        ),
    ).orderBy("media_id")


@query
def q_mjpeg_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Real COMPRESSED video-container frame sampling (r13): each
    document's first 1024 bytes ('x'-padded) become a 4-frame 16×16
    grayscale Motion-JPEG AVI (every frame a real baseline JPEG
    bitstream inside a real RIFF container — operators/mjpeg.py);
    ``sample_video_frames(codec="mjpeg")`` walks the container back
    and keeps every 2nd frame. MJPEG is lossy, so like q_jpeg_decode
    the query enforces an IN-PLAN error gate — max |decoded − source
    slice| ≤ 16 per sampled frame via an Arrow-vectorized pandas UDF
    over the joined originals — and the oracle pins (media_id,
    frame_idx, dims, gate) for every sampled frame of every doc.
    Completes the compressed trio begun by q_jpeg_decode (image) and
    q_flac_decode (audio)."""
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    from .operators.mjpeg import avi_mjpeg_encode
    from .operators.multimodal import sample_video_frames
    from .session import scale_out

    docs = load_table(spark, sf, "documents")
    # scale_out: same single-split guard as q_jpeg_decode — the AVI
    # encode is the plan's dominant cost and must use every core
    media = scale_out(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.encode(
                F.rpad(F.substring("text", 1, 1024), 1024, "x"), "UTF-8"
            ).alias("raw"),
        )
    )

    def to_avi(batches):
        for pdf in batches:
            payloads = []
            for raw in pdf["raw"]:
                b = bytes(raw or b"")
                frames = [b[i * 256:(i + 1) * 256] for i in range(4)]
                payloads.append(avi_mjpeg_encode(frames, 16, 16, quality=95))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    clips = media.mapInPandas(to_avi, "media_id long, payload binary")
    sampled = sample_video_frames(clips, every_n=2, codec="mjpeg")

    @pandas_udf("int")
    def frame_err(frame, raw, idx):
        import numpy as _np

        out = []
        for f, r, i in zip(frame, raw, idx):
            sl = bytes(r)[int(i) * 256:(int(i) + 1) * 256]
            a = _np.frombuffer(bytes(f), dtype=_np.uint8).astype(int)
            b = _np.frombuffer(sl, dtype=_np.uint8).astype(int)
            out.append(int(_np.abs(a - b).max()))
        return _pd.Series(out)

    return (
        # originals come from `media`, not `clips`: joining the clips
        # branch would re-run the AVI encode just to pass `raw` through
        sampled.join(media, "media_id")
        .select(
            "media_id",
            "frame_idx",
            "width",
            "height",
            (
                frame_err(F.col("frame"), F.col("raw"), F.col("frame_idx"))
                <= F.lit(16)
            ).alias("within_bound"),
        )
        .where("within_bound")
        .orderBy("media_id", "frame_idx")
    )


Q_MJPEG_FRAMES_SQL = """
SELECT doc_id AS media_id,
       CAST(idx AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       TRUE AS within_bound
FROM documents, LATERAL (SELECT unnest(range(0, 4, 2)) AS idx) t
ORDER BY media_id, frame_idx
"""


Q_FLAC_DECODE_SQL = """
WITH px AS (
  SELECT doc_id, i,
         (CASE WHEN i <= length(substr(text, 1, 64))
               THEN ascii(substr(text, CAST(i AS INT), 1)) % 128 ELSE 0 END) * 257
           - 16384 AS v
  FROM documents, LATERAL (SELECT unnest(range(1, 65)) AS i) t
)
SELECT doc_id AS media_id,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * i) AS BIGINT) AS s_dot
FROM px GROUP BY doc_id ORDER BY media_id
"""
