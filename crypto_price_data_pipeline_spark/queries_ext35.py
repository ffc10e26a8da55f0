"""Wave 35 [EXT]: DSIR-style importance resampling — target-
distribution data selection, the missing member of the curation
family (dedup → quality → language → contamination → MIXTURE →
SELECTION).

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") selects pretraining documents whose feature
distribution is close to a small TARGET corpus by an importance
weight under bag-of-features language models. This wave implements
the unigram form with one deliberate arithmetic change: the published
estimator sums LOG probability ratios, which is not bit-reproducible
across engines (libm ln differs in the last ulp); here each token's
importance ratio

    r(w) = p_t(w) / p_b(w)
         = (c_t(w)+1)·(N_b+V) / ((c_b(w)+1)·(N_t+V))

is computed as a double ratio of double PRODUCTS OF exact BIGINT
factors: each factor is cast to double BEFORE multiplying (exact up to
2^53 per factor), so the product and division each round ONCE under
IEEE-754 — identically in Spark and DuckDB at ANY corpus size. (A
BIGINT product would overflow 2^53 exactness, and approach 2^63 where
Spark wraps silently while DuckDB errors — the double-first form has
no such cliff.) Ratios are summed through DECIMAL(38,18) and averaged
per document — the same log-free trick as the TF-IDF and bigram-LM
operators. Note the estimator divergence: the published DSIR scores a
document by the SUM OF LOG ratios (a geometric-mean signal); the
arithmetic mean of raw ratios used here is a monotone-in-target-
likeness ANALOGUE, not rank-identical to it — a few dominant tokens
can reorder documents between the two forms. The oracle pins the
chosen form exactly.

Scale shape: ONE tokenize+explode pass feeds the target counts, the
background counts and the corpus totals; the ratio table is
vocabulary-sized (AQE broadcasts it), and the per-position scoring
stream aggregates per doc with map-side partial aggregation, so the
final shuffle carries |candidate docs| rows. Top-k is
TakeOrderedAndProject — no global-window single-partition sort.

Reference parity: [EXT] — the reference (bpi_crawler.py) has no
corpus tooling; this extends the training-data pipeline family the
driver mandates as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query
from .streaming.partial_store import day_chunk_expr, stream_partials


@query(oracle=lambda: Q_DSIR_SQL)
def q_dsir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 non-English-labeled documents ranked by unigram DSIR
    importance against the English-labeled target slice: the docs a
    target-distribution resampler would pull into the mixture first.
    Deterministic tie-break on doc_id at the cut.

    Serving shape (r13): the counting side reads the stored
    (token, lang, count) cube (artifacts.token_lang_counts — built
    once per corpus version), so the whole query is vocab-sized
    aggregations over the artifact scan plus ONE corpus
    tokenize-and-score pass; nothing is persisted and the plan stays
    lazy. The target split (en vs rest) is a query-time parameter —
    the cube serves any split. Counts are exact integers, so scores
    are bit-identical to inline counting (the oracle counts inline)."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col
    from .session import scale_out

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    is_tgt = F.col("lang") == "en"
    tc = token_lang_counts(spark, sf)
    totals = tc.agg(
        F.coalesce(F.sum(F.when(is_tgt, F.col("c"))), F.lit(0)).alias("_nt"),
        F.coalesce(F.sum(F.when(~is_tgt, F.col("c"))), F.lit(0)).alias("_nb"),
        F.countDistinct("w").alias("_v"),
    )
    wc = tc.groupBy("w").agg(
        F.coalesce(F.sum(F.when(is_tgt, F.col("c"))), F.lit(0)).alias("_ct"),
        F.coalesce(F.sum(F.when(~is_tgt, F.col("c"))), F.lit(0)).alias("_cb"),
    )
    rt = (
        wc.where(F.col("_cb") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            (
                (
                    (F.col("_ct") + 1).cast("double")
                    * (F.col("_nb") + F.col("_v")).cast("double")
                )
                / (
                    (F.col("_cb") + 1).cast("double")
                    * (F.col("_nt") + F.col("_v")).cast("double")
                )
            )
            .cast("decimal(38,18)")
            .alias("_r"),
        )
    )
    scored = (
        scale_out(docs.where(~is_tgt))
        .select("doc_id", F.explode(tokens_col("text")).alias("w"))
        .join(rt, "w")
        .groupBy("doc_id")
        .agg((F.sum("_r").cast("double") / F.count(F.lit(1))).alias("_m"))
    )
    return (
        scored.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .orderBy(F.desc("_m"), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "source", F.round("_m", 9).alias("dsir_score"))
    )


Q_DSIR_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents
),
tot AS (
  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nb,
         COUNT(DISTINCT w) AS v
  FROM tok
),
ct AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1),
cb AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang <> 'en' GROUP BY 1),
rt AS (
  SELECT cb.w,
         CAST((CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) * CAST(tot.nb + tot.v AS DOUBLE))
              / (CAST(cb.c + 1 AS DOUBLE) * CAST(tot.nt + tot.v AS DOUBLE))
              AS DECIMAL(38,18)) AS r
  FROM cb LEFT JOIN ct USING (w) CROSS JOIN tot
),
scored AS (
  SELECT t.doc_id, CAST(SUM(rt.r) AS DOUBLE) / COUNT(*) AS m
  FROM tok t JOIN rt ON t.w = rt.w
  WHERE t.lang <> 'en'
  GROUP BY 1
)
SELECT s.doc_id, d.lang, d.source, ROUND(s.m, 9) AS dsir_score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.m DESC, s.doc_id
LIMIT 50
"""


@query(oracle=lambda: Q_KMV_SQL)
def q_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise audience-overlap estimates between event types from
    K-minimum-values (bottom-k, theta-family) distinct sketches over
    active user-days (user_id·100 + day-of-month): est_jaccard (the
    KMV coincidence estimator), est_union and est_intersection — the
    set-operation capability the built-in HLL
    (approx_count_distinct) does not have. Sketches are k=256 arrays
    of 60-bit md5 hashes (operators.sketch.kmv_build), so the whole
    estimate chain is a deterministic function of the data that the
    DuckDB oracle reproduces exactly — estimator INCLUDED, not just
    inputs. The 5 per-type sketches pair through a broadcast
    nested-loop join of ≤k-long arrays; at 100 TB the sketches are
    still ≤k longs per group (the point of the sketch)."""
    return _kmv_pairs_output(_kmv_partial(load_table(spark, sf, "events")))


def _kmv_key():
    """Active user-day key (user_id·100 + day-of-month) — the distinct
    unit both KMV queries sketch."""
    return (F.col("user_id") * 100 + F.dayofmonth("ts")).cast("long")


def _kmv_partial(ev: DataFrame) -> DataFrame:
    """Per-type bottom-k sketch of the active user-days of ``ev``."""
    from .operators.sketch import kmv_build

    return kmv_build(
        ev.select("event_type", _kmv_key().alias("_k")), F.col("_k"), ["event_type"]
    )


def _kmv_pairs_output(sk: DataFrame) -> DataFrame:
    """Pairwise overlap estimates from a (event_type, kmv) sketch table
    — shared by the batch query and its streamed twin so both hit the
    identical oracle."""
    from .operators.sketch import kmv_pair_stats

    a = sk.select(F.col("event_type").alias("event_a"), F.col("kmv").alias("_ka"))
    b = sk.select(F.col("event_type").alias("event_b"), F.col("kmv").alias("_kb"))
    stats = kmv_pair_stats(F.col("_ka"), F.col("_kb"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("event_a") < F.col("event_b"))
        .select(
            "event_a",
            "event_b",
            F.round(stats["est_jaccard"], 9).alias("est_jaccard"),
            F.round(stats["est_union"], 6).alias("est_union"),
            F.round(stats["est_intersection"], 6).alias("est_intersection"),
        )
        .orderBy("event_a", "event_b")
    )


@query(twin_of="q_kmv_overlap")
def q_stream_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_kmv_overlap (same oracle): the per-type bottom-k
    sketch maintained incrementally — each micro-batch lands its own
    batch-local sketch as a per-batch_id partial (overwrite replay
    contract, streaming/partial_store.py), and the read side re-ranks
    the exploded union of partials. Correct because bottom-k is a
    semilattice: any hash among a group's global k smallest is among
    the k smallest of whichever batch introduced it, so merge ≡ whole
    (unit-pinned bit-equal to the batch sketch). A corpus append costs
    one batch sketch, never a rescan — the same maintenance shape as
    the artifact-index stream."""
    from .operators.sketch import kmv_explode, kmv_from_hashes

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id", "event_type")
    # schema-INFERRED read: the parquet footer restores the sketch's
    # (k, hash_bits) param stamp, so kmv_explode/kmv_from_hashes
    # hard-fail if this merge ever met partials built with another k
    stored = stream_partials(
        spark, ev, day_chunk_expr(), _kmv_partial, "stream_kmv_", infer_schema=True
    )
    merged = kmv_from_hashes(kmv_explode(stored, ["event_type"], k=256), ["event_type"])
    return _kmv_pairs_output(merged)


Q_KMV_SQL = r"""
WITH ud AS (
  SELECT DISTINCT event_type, user_id * 100 + day(ts) AS kk FROM events
),
h AS (
  SELECT DISTINCT event_type,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(kk AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ud
),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, list_sort(list(hv)) AS s FROM rk WHERE rn <= 256 GROUP BY 1),
p AS (
  SELECT a.event_type AS event_a, b.event_type AS event_b, a.s AS sa, b.s AS sb
  FROM sk a JOIN sk b ON a.event_type < b.event_type
),
u AS (
  SELECT event_a, event_b, sa, sb,
         list_sort(list_distinct(list_concat(sa, sb)))[1:256] AS su
  FROM p
),
m AS (
  SELECT event_a, event_b,
         CAST(len(list_intersect(su, list_intersect(sa, sb))) AS DOUBLE) / len(su) AS jac,
         CASE WHEN len(su) < 256 THEN CAST(len(su) AS DOUBLE)
              ELSE 255.0 / (CAST(su[256] AS DOUBLE) / 1152921504606846976.0) END AS eu
  FROM u
)
SELECT event_a, event_b, ROUND(jac, 9) AS est_jaccard,
       ROUND(eu, 6) AS est_union, ROUND(jac * eu, 6) AS est_intersection
FROM m ORDER BY 1, 2
"""


def _kmv_rolling_from_events(ev: DataFrame, k: int = 128) -> DataFrame:
    """Core of q_kmv_rolling over an (event_type, day: DATE, user_id)
    frame — factored so units can feed a synthetic multi-month corpus
    (the r13 verdict's aliasing note: daily cells MUST key on a
    calendar date; ``dayofmonth`` keys would alias day 5 of different
    months into one cell)."""
    from .operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_explode,
        kmv_from_hashes,
    )

    daily = kmv_build(ev, F.col("user_id"), ["event_type", "day"], k=k)
    days = ev.select("day").distinct().withColumnRenamed("day", "wday")
    spread = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "kmv",
    ).join(F.broadcast(days), "wday")
    # presalt=False: the merge input is ≤ 7·k rows per (type, window)
    # at ANY corpus size (a fixed window of 7 daily sketches), so the
    # single ranking window is already scale-safe. kmv_explode carries
    # the daily sketches' stamp through, so a k-mismatched merge
    # hard-fails instead of biasing the estimator.
    merged = kmv_from_hashes(
        kmv_explode(spread, ["event_type", "wday"], k=k),
        ["event_type", "wday"],
        k=k,
        presalt=False,
    )
    return merged.select(
        "event_type",
        F.col("wday").alias("day"),
        F.round(kmv_estimate(F.col("kmv"), k), 6).alias("est_uniques_7d"),
    ).orderBy("event_type", "day")


@query
def q_kmv_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day distinct-user estimates per event type from MERGED
    daily KMV sketches — the sketch's flagship warehouse use: exact
    rolling distincts at 100 TB would re-shuffle every (window, user)
    pair per day, whereas daily bottom-k sketches build once (k longs
    per (type, day)) and every window is an array merge + re-rank.
    Each daily sketch fans out to the ≤7 CALENDAR-DATE windows it
    covers (a date-sequence explode of k-long arrays, never the event
    rows — ``to_date`` keys, so a multi-month corpus can never alias
    same day-of-month cells); windows are the days present in the
    data. Fully deterministic — the oracle rebuilds daily sketches,
    the window merge AND the estimator. k=128: small corpora sit in
    the exact regime, sf0.1 in the estimation regime."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    return _kmv_rolling_from_events(ev, k=128)


Q_KMV_ROLLING_SQL = r"""
WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
h AS (
  SELECT DISTINCT event_type, day,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ev
),
rk AS (
  SELECT event_type, day, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn
  FROM h
),
daily AS (SELECT event_type, day, hv FROM rk WHERE rn <= 128),
spread AS (
  SELECT event_type, day + CAST(off AS INTEGER) AS wday, hv
  FROM (SELECT *, unnest(range(0, 7)) AS off FROM daily)
  WHERE day + CAST(off AS INTEGER)
        IN (SELECT DISTINCT CAST(ts AS DATE) FROM events)
),
d2 AS (SELECT DISTINCT event_type, wday, hv FROM spread),
rk2 AS (
  SELECT event_type, wday, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type, wday ORDER BY hv) AS rn
  FROM d2
),
sk AS (
  SELECT event_type, wday, list_sort(list(hv)) AS s
  FROM rk2 WHERE rn <= 128 GROUP BY 1, 2
)
SELECT event_type, wday AS day,
       ROUND(CASE WHEN len(s) < 128 THEN CAST(len(s) AS DOUBLE)
             ELSE 127.0 / (CAST(s[128] AS DOUBLE) / 1152921504606846976.0) END,
             6) AS est_uniques_7d
FROM sk ORDER BY 1, 2
"""
