"""Sixth coverage wave: training-run data-prep mechanics — sequence
packing (concat-and-chunk), deterministic train/val/test hash splits,
and per-day content novelty (incremental-dedup accounting).

Each query registers with ``@query`` (registry.py); same determinism
contract (integer arithmetic or int/int doubles only, md5 as the
cross-engine hash, string-formatted dates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .operators.packing import pack_sequences
from .operators.text import tokenize
from .registry import query

SEQ_LEN = 128


# ----------------------------------------------------- sequence packing


@query
def q_seq_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Pack the documents corpus into 128-token training sequences
    (concat in doc_id order, chunk every 128 tokens) and report, per
    sequence: docs starting in it, their token mass, and how many
    straddle into the next sequence. The offsets come from the
    two-phase distributed prefix sum in operators/packing.py — no
    single-partition window anywhere in the plan (asserted in
    tests/test_packing.py). Oracle recomputes the same layout with a
    plain window cumsum, which DuckDB can do single-node."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokenize("text")).alias("n_tok")
    )
    packed = pack_sequences(docs, "doc_id", "n_tok", SEQ_LEN)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_started"),
            F.sum(
                F.when(F.col("end_seq_id") > F.col("seq_id"), 1).otherwise(0)
            ).alias("n_boundary_crossers"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


Q_SEQ_PACKING_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
off AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks WHERE n_tok > 0
)
SELECT CAST(off // {SEQ_LEN} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_started,
       CAST(SUM(CASE WHEN (off + n_tok - 1) // {SEQ_LEN} > off // {SEQ_LEN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_crossers,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM off
GROUP BY 1
ORDER BY 1
"""


# ------------------------------------------------ deterministic splits


@query
def q_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by md5 of the stable doc id
    (first hex nibble: 12/16 train, 2/16 val, 2/16 test) — the
    reproducible split rule for 100 TB corpora: no RNG, no shuffle of
    the data itself, any engine recomputes identical membership. The
    oracle pins membership via id checksums, not just sizes."""
    docs = load_table(spark, sf, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin("e", "f"), "test")
        .when(nib.isin("c", "d"), "val")
        .otherwise("train")
    )
    return (
        docs.select(
            split.alias("split"),
            "doc_id",
            "n_chars",
            F.size(tokenize("text")).alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


Q_TRAIN_SPLIT_SQL = r"""
WITH tagged AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
              ELSE 'train' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM tagged
GROUP BY split
ORDER BY split
"""


# --------------------------------------------------- content novelty


@query
def q_novelty_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-dedup accounting: per ingest day, how many events
    arrived, how many distinct content hashes they carried, and how
    many of those hashes were seen for the FIRST time that day. This
    is the dedup-rate dashboard an ongoing crawl maintains — at scale
    it is two hash-keyed shuffles (hash→min-day, day→counts), no
    global state. Content hash is md5 over (event_type, props), both
    non-null varchar, so the hash is engine-portable."""
    ev = load_table(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.md5(F.concat_ws("|", "event_type", "props")).alias("h"),
    )
    firsts = ev.groupBy("h").agg(F.min("d").alias("first_day"))
    daily = ev.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("h").alias("n_distinct"),
    )
    news = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        daily.join(news, "d", "left")
        .select(
            "d",
            "n_events",
            "n_distinct",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .orderBy("d")
    )


Q_NOVELTY_RATE_SQL = """
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d, md5(event_type || '|' || props) AS h
  FROM events
),
firsts AS (SELECT h AS hh, MIN(d) AS first_day FROM h GROUP BY h),
daily AS (
  SELECT d, COUNT(*) AS n_events, COUNT(DISTINCT h) AS n_distinct
  FROM h GROUP BY d
),
news AS (SELECT first_day AS d, COUNT(*) AS n_new FROM firsts GROUP BY first_day)
SELECT daily.d AS d, n_events, n_distinct, COALESCE(n_new, 0) AS n_new
FROM daily LEFT JOIN news ON daily.d = news.d
ORDER BY d
"""


# ------------------------------------------- containment near-dup


@query
def q_ngram_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs, language-
    blocked: |A∩B| / min(|A|,|B|) over word-3-gram shingle sets — the
    subsumed-document detector (excerpts, boilerplate-wrapped copies)
    that Jaccard structurally misses. Spark shingles via xxhash64
    longs, the oracle via string shingles; overlap is invariant to any
    injective shingle encoding, and int/int division is bit-exact on
    both engines. Shingle sets come from the per-corpus artifact store
    (shared with the MinHash family — same k=3 sets)."""
    from .artifacts import minhash_base
    from .operators.dedup import ngram_overlap_pairs

    docs = load_table(spark, sf, "documents")
    return ngram_overlap_pairs(
        docs, block_cols=["lang"], k=3, threshold=0.6,
        base=minhash_base(spark, sf), strategy="auto",
    ).orderBy("id_a", "id_b")


Q_NGRAM_OVERLAP_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / least(len(a.sh), len(b.sh)) AS overlap
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / least(len(a.sh), len(b.sh)) >= 0.6
ORDER BY id_a, id_b
"""


# ------------------------------------------- streaming incremental dedup


@query
def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup dedup through REAL streaming machinery:
    the corpus replays as 4 micro-batches (file source, id order), each
    batch MinHash-signs itself, LSH-probes the persistent postings
    store built by earlier batches, verifies candidates with exact
    shingle Jaccard, and appends survivors — see
    streaming/dedup_stream.py. Because every seen doc's signature is
    stored (dropped ones included), the final survivor set equals the
    batch anti-join rule ("dup of any smaller-id doc at J ≥ 0.4"),
    which the exhaustive DuckDB oracle computes corpus-wide. Recall
    pinning (cf. q_minhash_exact): every dropped pair on this corpus
    sits at J ≥ 0.9, where r=2×b=32 banding miss probability is
    ~1e-23 — a changed corpus/seed could in principle surface a
    near-threshold pair the banding misses; diagnose a future mismatch
    as LSH recall, not an operator bug. Output aggregates per lang
    (count + id/char checksums) to pin membership compactly."""
    from .streaming.dedup_stream import stream_minhash_dedup

    docs = load_table(spark, sf, "documents")
    surv = stream_minhash_dedup(
        spark, docs, keep_cols=["lang", "n_chars"], threshold=0.4, n_chunks=4
    )
    return (
        surv.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("lang")
    )


Q_STREAM_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
)
SELECT lang, COUNT(*) AS n_survivors,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM sh
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------- stream-static enrichment


@query
def q_stream_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static broadcast join through real streaming machinery:
    events replay as a stream, each micro-batch joins the static
    customer dimension map-side (broadcast), and the enriched rows
    land in a parquet sink — full-replay streaming ≡ batch join is the
    correctness invariant the oracle checks."""
    from .streaming.windows import stream_static_enrich

    return stream_static_enrich(spark, sf)


Q_STREAM_ENRICH_SQL = """
SELECT COALESCE(c.c_mktsegment, '') AS c_mktsegment, e.event_type AS event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------- time-bucket gapfill


@query
def q_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style ``time_bucket_gapfill`` + LOCF: hourly buckets
    per event type over the full observed range, missing hours
    materialized from a generated grid (sequence + explode against the
    tiny type dim — broadcast, no shuffle) and carried forward with
    ``last(ignorenulls)``. The average rides as decimal-sum ÷ count
    double division (identical operands both engines). Leading gaps
    before a type's first observation stay NULL by LOCF definition."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    bounds = ev.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_v", ignorenulls=True).over(w).alias("value_locf"),
            F.col("n_events").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hour")
    )


Q_GAPFILL_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
),
hourly AS (
  SELECT event_type, h, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM ev GROUP BY 1, 2
),
b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b) g
)
SELECT g.event_type AS event_type,
       strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(hourly.n_events, 0) AS n_events,
       LAST_VALUE(hourly.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       hourly.n_events IS NULL AS is_gap
FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h
ORDER BY 1, 2
"""


@query
def q_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-fill by LINEAR interpolation (the ``interpolate()`` of
    hypertable rollups): observed hourly averages anchor a lerp across
    each gap — prev/next anchors arrive via ignorenulls last/first
    struct windows (value + its epoch-hour travel together, so the
    slope uses the matched anchor row), and the blend factor is
    int/int epoch-hour arithmetic; every engine-side float op is
    +,-,*,/ on identical operands, hence bit-exact. Rows outside a
    type's observed range (no anchor on one side) interpolate to the
    available anchor; both-sides-missing stays NULL."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    grid = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
        )
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    eh = (F.unix_timestamp("h") / 3600).cast("long")
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        eh.alias("_eh"),
        "avg_v",
        F.when(
            F.col("avg_v").isNotNull(),
            F.struct((F.unix_timestamp("h") / 3600).cast("long").alias("eh"), F.col("avg_v").alias("v")),
        ).alias("_obs"),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("_eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("_eh")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev, nxt = (
        F.last("_obs", ignorenulls=True).over(back),
        F.first("_obs", ignorenulls=True).over(fwd),
    )
    lerp = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(prev.isNull(), nxt["v"])
        .when(nxt.isNull(), prev["v"])
        .otherwise(
            prev["v"]
            + (nxt["v"] - prev["v"])
            * ((F.col("_eh") - prev["eh"]) / (nxt["eh"] - prev["eh"]))
        )
    )
    return (
        joined.select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("avg_v").isNull().alias("is_gap"),
            lerp.alias("value_interp"),
        )
        .orderBy("event_type", "hour")
    )


Q_INTERPOLATE_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
),
hourly AS (
  SELECT event_type, h,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM ev GROUP BY 1, 2
),
b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b) g
),
j AS (
  SELECT g.event_type, g.h,
         CAST(epoch(g.h) / 3600 AS BIGINT) AS eh,
         hourly.avg_v,
         CASE WHEN hourly.avg_v IS NOT NULL
              THEN struct_pack(eh := CAST(epoch(g.h) / 3600 AS BIGINT), v := hourly.avg_v)
         END AS obs
  FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h
),
w AS (
  SELECT event_type, h, eh, avg_v,
         LAST_VALUE(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY eh
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         FIRST_VALUE(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY eh
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM j
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       avg_v IS NULL AS is_gap,
       CASE WHEN avg_v IS NOT NULL THEN avg_v
            WHEN prev IS NULL THEN nxt.v
            WHEN nxt IS NULL THEN prev.v
            ELSE prev.v + (nxt.v - prev.v)
                 * (CAST(eh - prev.eh AS DOUBLE) / (nxt.eh - prev.eh))
       END AS value_interp
FROM w
ORDER BY 1, 2
"""


# -------------------------------------- dominant-repetition quality cut


@query
def q_repetition_topgrams(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher's dominant-repetition filter: fraction of word 2-grams /
    3-grams taken by each doc's single most frequent n-gram, plus the
    published cut (top-2-gram > 0.18 OR top-3-gram > 0.16 → reject).
    Catches keyword-stuffing and boilerplate the unigram
    repetition_ratio in q_quality_full can't see. Computed fully
    in-row (sorted-array max-run fold — zero shuffles); the oracle
    recomputes the mode per doc with explode + GROUP BY."""
    from .operators.text import top_ngram_fraction

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    feats = top_ngram_fraction(docs, "text", ns=(2, 3))
    bi = F.round("top_2gram_frac", 9)
    tri = F.round("top_3gram_frac", 9)
    return feats.select(
        "doc_id",
        bi.alias("top_2gram_frac"),
        tri.alias("top_3gram_frac"),
        ((bi > 0.18) | (tri > 0.16)).alias("repetitive"),
    ).orderBy("doc_id")


Q_REPETITION_TOPGRAMS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS rn
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        FROM documents)
),
seq AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY rn) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS t2
  FROM toks
),
bi AS (SELECT doc_id, tok || ' ' || t1 AS g FROM seq WHERE t1 IS NOT NULL),
tri AS (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g FROM seq WHERE t2 IS NOT NULL),
bic AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1
),
tric AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(ROUND(bic.best / bic.total, 9), 0.0) AS top_2gram_frac,
       COALESCE(ROUND(tric.best / tric.total, 9), 0.0) AS top_3gram_frac,
       (COALESCE(ROUND(bic.best / bic.total, 9), 0.0) > 0.18
        OR COALESCE(ROUND(tric.best / tric.total, 9), 0.0) > 0.16) AS repetitive
FROM documents d
LEFT JOIN bic ON d.doc_id = bic.doc_id
LEFT JOIN tric ON d.doc_id = tric.doc_id
ORDER BY 1
"""


# ------------------------------------ winnowing fingerprint near-dups


@query
def q_winnowing_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level near-dup pairs via shared winnowing fingerprints
    (MOSS sketch, k=8 chars, window w=8): any shared substring of
    length ≥ 15 chars guarantees a shared fingerprint, so pair counts
    measure contiguous overlap — the signal ExactSubstr-style dedup
    keys on, complementary to MinHash's bag-of-shingles view.
    Fingerprints in > 50 docs are dropped as boilerplate before the
    posting self-join (candidate-proportional, never all-pairs);
    min_shared=10 (sketch is ~half as dense at w=8) sits above the
    corpus's template overlap, isolating the planted near-dup pairs.
    The sketch postings come from the per-corpus artifact store
    (artifacts.winnow_postings), shared with q_winnow_dedup."""
    from .artifacts import winnow_postings
    from .operators.text import winnowing_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return winnowing_pairs(
        docs, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50,
        fp=winnow_postings(spark, sf), strategy="auto",
        # The pinned oracle counts stop-fingerprint df over RAW docs, so
        # auto's collapse branch must use the plain-bit-compatible df
        # unit — on a dup ratio >= 1.25 corpus the default
        # "distinct_texts" unit would silently diverge from the oracle.
        collapse_df="raw_docs",
    ).orderBy("id_a", "id_b")


Q_WINNOWING_PAIRS_SQL = """
WITH clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM documents
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
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 10
ORDER BY 1, 2
"""


# ---------------------------------------- end-to-end curation pipeline


@query
def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship composition: a complete corpus-curation pass as ONE
    declarative chain — Gopher quality gate (composite score ≥ 0.75) →
    dominant-repetition cut (top-2-gram ≤ 0.18, top-3-gram ≤ 0.16) →
    exact dedup (keep min doc_id per text) → deterministic md5 train/
    val/test split → per-split doc/token/id-checksum accounting. Every
    stage is an already-oracled operator; chaining them stays one
    Catalyst plan (filters fuse into the scan, the dedup window is the
    only wide op before the final 3-row aggregate), which is the point:
    at 100 TB the curation pass is one job, not five materialized
    intermediates. The oracle replays the same five stages as CTEs."""
    from .operators.dedup import exact_dedup
    from .operators.text import quality_scores, top_ngram_fraction

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    scored = quality_scores(docs).where(F.col("quality_score") >= 0.75)
    rep = top_ngram_fraction(scored.select("doc_id", "text"), "text", ns=(2, 3))
    clean = rep.where(
        ~(
            (F.round("top_2gram_frac", 9) > 0.18)
            | (F.round("top_3gram_frac", 9) > 0.16)
        )
    ).select("doc_id", "text")
    deduped = exact_dedup(clean, ["text"], "doc_id")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin("e", "f"), "test")
        .when(nib.isin("c", "d"), "val")
        .otherwise("train")
    )
    return (
        deduped.select(
            split.alias("split"),
            "doc_id",
            F.size(tokenize("text")).alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


Q_CURATION_PIPELINE_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_char
  FROM documents
),
feat AS (
  SELECT doc_id, text,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         (n_char - len(toks) + 1) / GREATEST(len(toks), 1) AS mean_word_len,
         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS BIGINT)
           / GREATEST(n_char, 1) AS punct_ratio,
         1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1) AS repetition_ratio
  FROM base
),
q AS (
  SELECT doc_id, text FROM feat
  WHERE CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
      + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
      + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
      + CASE WHEN repetition_ratio <= 0.9 THEN 0.25 ELSE 0.0 END >= 0.75
),
wtoks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS rn
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        FROM q)
),
seq AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY rn) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS t2
  FROM wtoks
),
bi AS (SELECT doc_id, tok || ' ' || t1 AS g FROM seq WHERE t1 IS NOT NULL),
tri AS (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g FROM seq WHERE t2 IS NOT NULL),
bic AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1
),
tric AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2) GROUP BY 1
),
clean AS (
  SELECT q.doc_id, q.text
  FROM q LEFT JOIN bic ON q.doc_id = bic.doc_id
         LEFT JOIN tric ON q.doc_id = tric.doc_id
  WHERE NOT (COALESCE(ROUND(bic.best / bic.total, 9), 0.0) > 0.18
             OR COALESCE(ROUND(tric.best / tric.total, 9), 0.0) > 0.16)
),
ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM clean
  ) WHERE rn = 1
),
tagged AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
              ELSE 'train' END AS split
  FROM ded
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM tagged GROUP BY split ORDER BY split
"""
