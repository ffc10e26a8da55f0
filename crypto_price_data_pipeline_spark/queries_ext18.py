"""Coverage wave 18 ([EXT]): sparse lexical similarity, privacy audit,
skyline, embedding drift, Zipf diagnostics, and path mining.

- ``q_tfidf_cosine_pairs`` — AllPairs-style sparse cosine similarity
  over word-trigram TF-IDF vectors via an inverted-index self-join:
  the lexical near-dup family's scoring twin (MinHash finds candidates
  by set overlap; this ranks them by weighted cosine). Log-free
  rational weights (tf · N/df) keep the score oracle-exact; a
  doc-frequency cap bounds posting lists so candidate generation is
  Σ df² — never all-pairs.
- ``q_k_anonymity`` — privacy audit for training-data release: counts
  per quasi-identifier group (nation × segment × balance band) and
  the groups below the k=4 anonymity floor — the rows a curation
  pipeline must generalize or drop before publishing.
- ``q_pareto_front`` — 2-D skyline (min price, max size) over parts
  computed as two window passes over the price-compressed table, not
  the O(n²) dominance join the oracle runs.
- ``q_embedding_drift`` — per-dimension centroid drift between two
  disjoint md5 halves of the embedding corpus: the feature-health
  check run before/after a retraining cut.
- ``q_zipf_check`` — rank-frequency head of the token distribution
  with the exact r·f(r) product and the f(1)/f(r) ratio; Zipf's law
  predicts r·f(r) ≈ const, and this integer-exact form avoids the
  cross-libm ln() the determinism contract forbids.
- ``q_top_paths`` — top-10 user journey prefixes (first 5 events per
  user, ordered by (ts, event_id)) — sequence mining's workhorse
  aggregation.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py (DECIMAL(38,6) sums; sqrt/abs/div IEEE-safe;
no exp/ln/pow in oracled values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalars import _dec
from .io.sources import load_table
from .registry import query


# ------------------------------------- sparse TF-IDF cosine pairs


@query
def q_tfidf_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Doc pairs with trigram-TF-IDF cosine ≥ 0.25 via inverted index.

    Plan shape: tokenize → word-trigram terms (in-row transform, no
    shuffle) → tf hash-agg → df hash-agg with a ≤50 doc-freq cap
    (kills hot postings, same role as dedup's stop-fingerprint cap)
    → per-doc norms → posting-list self-join keyed on term (the
    inverted index: candidates ∝ Σ df², never |docs|²) → exact
    DECIMAL(38,6) dot-product sum → cosine. Weights are the log-free
    rational tf·N/df (determinism contract: ln differs in the last
    ulp across libms); sqrt and the final division are IEEE-safe on
    identical inputs. Cited pattern: Bayardo et al., "Scaling Up All
    Pairs Similarity Search" (WWW'07) — df-capped inverted index.

    The weight postings come from the per-corpus artifact store
    (artifacts.tfidf_weights): the tokenize → trigram → tf → df-cap →
    weight chain is a stored table (built once per corpus, cold-build
    timed by bench as artifact_tfidf_w_build); this query reads it as
    a parquet scan, computes norms, and runs the posting self-join.
    """
    from .artifacts import tfidf_weights

    w = tfidf_weights(spark, sf)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(_dec(F.col("w") * F.col("w"))).cast("double")).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(_dec(F.col("wa") * F.col("wb"))).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    out = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 9).alias(
                "cos_r9"
            ),
        )
        .where(F.col("cos_r9") >= 0.25)
        .orderBy("id_a", "id_b")
    )
    return out


Q_TFIDF_COSINE_PAIRS_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS t
  FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
terms AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS term
  FROM toked WHERE len(t) >= 3),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 50),
w AS (
  SELECT doc_id, tf.term AS term,
         tf * CAST((SELECT n_docs FROM n) AS DOUBLE) / df AS w
  FROM tf JOIN df ON tf.term = df.term),
norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS nrm
  FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,6))) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(dot / (na.nrm * nb.nrm), 9) AS cos_r9
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE ROUND(dot / (na.nrm * nb.nrm), 9) >= 0.25
ORDER BY id_a, id_b
"""


# ------------------------------------------------ k-anonymity audit


@query
def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Quasi-identifier groups below the k=4 anonymity floor.

    QI = (nation, market segment, 1000-unit balance band). One hash
    aggregate + a HAVING filter; the exact-decimal band division keeps
    floor() engine-portable. At 100 TB this is one map-side-combined
    shuffle on the QI key — the same shape as any grouped count.
    """
    cust = load_table(spark, sf, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") < 4)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


Q_K_ANONYMITY_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       COUNT(*) AS n
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 4
ORDER BY 1, 2, 3
"""


# ----------------------------------------------------- 2-D skyline


@query
def q_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size.

    Within one price, only max-size rows can be undominated (equal
    price + strictly larger size dominates); across prices the
    survivors are the strictly-increasing frontier of per-price max
    size in price order. So: per-price max (hash agg, massive key
    compression), then ONE ordered window over the distinct-price
    table (rows ≤ |price domain|, not |parts| — the single-partition
    window rides a table the groupBy already shrank), then a
    broadcast-able semi-join back. The O(n²) dominance join is the
    oracle's job, not the plan's.
    """
    part = load_table(spark, sf, "part")
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("msize")
    )
    wprev = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front = (
        per_price.withColumn("prev_max", F.max("msize").over(wprev))
        .where(F.col("prev_max").isNull() | (F.col("msize") > F.col("prev_max")))
        .select(
            F.col("p_retailprice").alias("f_price"), F.col("msize").alias("f_size")
        )
    )
    return (
        part.join(
            F.broadcast(front),
            (F.col("p_retailprice") == F.col("f_price"))
            & (F.col("p_size") == F.col("f_size")),
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


Q_PARETO_FRONT_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""


# ------------------------------------------------ embedding drift


@query
def q_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension centroid drift between two disjoint md5 halves.

    The RNG-free A/B split (md5 parity on vec_id, the q_subsample_ci
    idiom) stands in for "yesterday's corpus vs today's"; per-dim
    means use the exact DECIMAL(38,6) sum contract and the drift is
    an IEEE-safe abs of identical doubles. posexplode is 64 rows per
    vector — one narrow explode + one hash agg, no shuffle wider than
    the (half, dim) key space (128 groups at any corpus size).
    """
    emb = load_table(spark, sf, "embeddings")
    half = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("drift:"), F.col("vec_id").cast("string"))), 1, 4),
            16,
            10,
        ).cast("long")
        % 2
    ).alias("half")
    dims = emb.select(
        half, F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val")
    ).withColumn("dim", F.col("dim").cast("long"))
    agg = dims.groupBy("half", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_dec(F.col("val"))).cast("double") / F.count(F.lit(1))).alias("mean"),
    )
    a = agg.where(F.col("half") == 0).select(
        "dim", F.col("n").alias("n_a"), F.col("mean").alias("mean_a")
    )
    b = agg.where(F.col("half") == 1).select(
        "dim", F.col("n").alias("n_b"), F.col("mean").alias("mean_b")
    )
    return (
        a.join(b, "dim")
        .select(
            "dim",
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            F.abs(F.col("mean_a") - F.col("mean_b")).alias("drift"),
        )
        .orderBy("dim")
    )


Q_EMBEDDING_DRIFT_SQL = """
WITH dims AS (
  SELECT half, u.i - 1 AS dim, u.x AS val
  FROM (
    SELECT ('0x' || substr(md5('drift:' || CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS half,
           unnest(list_transform(CAST(embedding AS DOUBLE[]),
                  (x, i) -> struct_pack(i := i, x := x))) AS u
    FROM embeddings)),
agg AS (
  SELECT half, dim, COUNT(*) AS n,
         CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean
  FROM dims GROUP BY 1, 2)
SELECT a.dim AS dim, a.n AS n_a, b.n AS n_b,
       a.mean AS mean_a, b.mean AS mean_b,
       ABS(a.mean - b.mean) AS drift
FROM agg a JOIN agg b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
ORDER BY dim
"""


# ------------------------------------------------ Zipf diagnostics


@query
def q_zipf_check(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-frequency head with the exact Zipf product r·f(r).

    Zipf's law predicts r·f(r) ≈ const; the integer product and the
    f(1)/f(r) double ratio are engine-exact, unlike the usual log-log
    slope fit (ln is banned from oracles by the determinism
    contract). One hash agg + one ordered window over the aggregated
    (tiny) vocabulary table.
    """
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = freq.withColumn("rank", F.row_number().over(w).cast("long")).withColumn(
        "top_freq", F.max("freq").over(Window.partitionBy())
    )
    return (
        ranked.where(F.col("rank") <= 20)
        .select(
            "rank",
            "term",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rf"),
            F.round(
                F.col("top_freq").cast("double") / F.col("freq").cast("double"),
                9,
            ).alias("ratio_r9"),
        )
        .orderBy("rank")
    )


Q_ZIPF_CHECK_SQL = r"""
WITH freq AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                t -> t <> '')) AS term
  FROM documents),
counted AS (SELECT term, COUNT(*) AS freq FROM freq GROUP BY 1),
ranked AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank,
         MAX(freq) OVER () AS top_freq
  FROM counted)
SELECT CAST(rank AS BIGINT) AS rank, term, freq,
       CAST(rank * freq AS BIGINT) AS rf,
       ROUND(CAST(top_freq AS DOUBLE) / CAST(freq AS DOUBLE), 9) AS ratio_r9
FROM ranked WHERE rank <= 20 ORDER BY rank
"""


# ------------------------------------------------ top user journeys


def _first5(ev: DataFrame) -> DataFrame:
    """Each user's first 5 events by (ts, event_id). Min-k is a
    semilattice merge: the first 5 of a union are among the union of
    the parts' first 5s, so this is both the partial and the merge."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


def _top_paths_finish(events: DataFrame) -> DataFrame:
    """Top-10 '>'-joined first-5 paths over ``events`` (any superset of
    every user's first 5 events)."""
    paths = _first5(events).groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " x -> x.event_type)"
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


@query
def q_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 user journey prefixes: each user's first 5 events (by
    ts, event_id — a total order) joined into a '>' path, counted
    across users. collect_list + array_sort keeps the path build
    in-row after one partitionBy(user) shuffle; ties broken
    deterministically for both ranking and output order.
    """
    return _top_paths_finish(load_table(spark, sf, "events"))


Q_TOP_PATHS_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= 5 GROUP BY user_id)
SELECT path, COUNT(*) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path LIMIT 10
"""
