"""Coverage wave 20 ([EXT]): BFS hop distance, ranking under
uncertainty, seasonal decomposition, corpus diversity, and streamed
mergeable top-paths.

- ``q_bfs_hops`` — shortest-hop distance from each near-dup cluster's
  survivor to every member, over the exact-verified MinHash pair
  graph: the "how far from canonical" signal dedup QA wants next to
  q_dedup_provenance's membership list. Iterative multi-source BFS
  (``operators.graph.bfs_hops``); oracle = capped recursive-CTE BFS
  over the same exact pair rule.
- ``q_wilson_ranking`` — users ranked by the Wilson-score LOWER bound
  of their click share (clicks / (clicks+views)): the
  small-sample-safe ranking rule (a 2/2 never outranks a 40/50).
  z = 1.96; the formula is +,·,/ and one IEEE-safe sqrt over
  identical inputs, so the oracle is exact.
- ``q_dow_seasonality`` — classical decomposition of the daily
  event-value series: centered 7-day moving-average trend (full
  windows only), detrended residuals, day-of-week seasonal means.
- ``q_diversity_index`` — per-source language diversity: Gini-Simpson
  index 1 − Σp² and effective language count 1/Σp² — the rational
  (no-ln) twin of Shannon entropy the determinism contract allows.
- ``q_stream_paths`` — streamed top user-journey prefixes: per-batch
  candidate first-5-per-user rows are MERGEABLE state (each batch's
  in-batch first-5 is a superset contribution to the global first-5),
  so the read side just re-ranks the union. Streamed ≡ batch
  q_top_paths, same oracle verbatim.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalars import _dec
from .io.sources import load_table
from .registry import query
from .session import materialize
from .streaming.partial_store import day_chunk_expr, stream_partials


# ------------------------------------------------ BFS hop distance


@query
def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, survivor, dist) for every doc in a non-singleton
    near-dup cluster: dist = fewest pair-graph hops to the cluster's
    min-id survivor.

    The pair graph is the exact-verified MinHash rule (Jaccard ≥ 0.5
    on word trigrams — q_dedup_provenance's graph); components label
    each node with its min-id, then multi-source BFS from all
    survivors at once (within a component only its own survivor is
    reachable, so the nearest-source distance IS the to-survivor
    distance). Iteration count = cluster diameter — tiny for dedup
    graphs regardless of corpus size.
    """
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact
    from .operators.graph import bfs_hops

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    pairs = pairs.transform(materialize)
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(nodes, pairs, id_col="doc_id")
    survivors = comp.select(F.col("component").alias("doc_id")).distinct()
    dist = bfs_hops(pairs, survivors, id_col="doc_id")
    return (
        comp.join(dist, "doc_id")
        .select("doc_id", F.col("component").alias("survivor"), "dist")
        .orderBy("doc_id")
    )


Q_BFS_HOPS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS survivor FROM reach GROUP BY n),
walk(n, dd) AS (
  SELECT DISTINCT survivor, 0 FROM clusters
  UNION
  SELECT e.d, w.dd + 1 FROM walk w JOIN edges e ON e.s = w.n WHERE w.dd < 20
),
dists AS (SELECT n AS doc_id, CAST(MIN(dd) AS BIGINT) AS dist FROM walk GROUP BY n)
SELECT c.doc_id, c.survivor, d.dist
FROM clusters c JOIN dists d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
"""


# ------------------------------------------ Wilson-bound ranking


@query
def q_wilson_ranking(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 users by the Wilson-score lower bound of click share.

    p̂ = clicks/(clicks+views); the z=1.96 lower bound penalizes small
    samples so thin high-rate users rank below fat moderate ones. One
    conditional-count aggregate per user; the bound is a single IEEE
    expression (÷, ·, one sqrt) over identical integer inputs, written
    with the same tree shape in both engines.
    """
    ev = load_table(spark, sf, "events")
    counts = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    z2 = F.lit(1.96) * F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("clicks").cast("double") / n
    lb = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.lit(1.96)
        * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    return (
        counts.select(
            "user_id",
            "clicks",
            "n",
            F.round(p, 9).alias("p_hat_r9"),
            F.round(lb, 9).alias("wilson_lb_r9"),
        )
        .orderBy(F.col("wilson_lb_r9").desc(), "user_id")
        .limit(10)
    )


Q_WILSON_RANKING_SQL = """
WITH counts AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         COUNT(*) AS n
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1)
SELECT user_id, clicks, n,
       ROUND(CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_hat_r9,
       ROUND(
         (CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
          + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
          - 1.96 * sqrt((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
                         * (1.0 - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
                         + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                        / CAST(n AS DOUBLE)))
         / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 9) AS wilson_lb_r9
FROM counts
ORDER BY wilson_lb_r9 DESC, user_id LIMIT 10
"""


# ---------------------------------------- day-of-week seasonality


@query
def q_dow_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonal profile of daily event value: centered
    7-day moving-average trend (full windows only — edge days with a
    partial window are excluded, the classical convention), residual
    = daily − trend, seasonal = per-ISO-dow mean residual.

    Daily totals are exact decimal sums; the MA is (exact 7-day
    decimal sum)/7.0 in double; residual and its per-dow mean follow
    the DECIMAL(38,6) contract. Everything after the day rollup runs
    on the ~|days| table — window and agg are negligible at any
    corpus scale.
    """
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(_dec(F.col("value"))).alias("s"))
    wma = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        F.col("s").cast("double").alias("total"),
        (F.sum("s").over(wma).cast("double") / F.lit(7.0)).alias("ma"),
        F.count(F.lit(1)).over(wma).alias("wn"),
    ).where(F.col("wn") == 7)
    resid = trended.select(
        "day", (F.col("total") - F.col("ma")).alias("r")
    )
    return (
        resid.groupBy(
            (F.weekday(F.to_date("day")) + F.lit(1)).cast("long").alias("isodow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum(_dec(F.col("r"))).cast("double") / F.count(F.lit(1)), 9
            ).alias("seasonal_r9"),
        )
        .orderBy("isodow")
    )


Q_DOW_SEASONALITY_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS s
  FROM events GROUP BY 1),
trended AS (
  SELECT day, CAST(s AS DOUBLE) AS total,
         CAST(SUM(s) OVER w AS DOUBLE) / 7.0 AS ma,
         COUNT(*) OVER w AS wn
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
resid AS (
  SELECT day, total - ma AS r FROM trended WHERE wn = 7)
SELECT CAST(isodow(CAST(day AS DATE)) AS BIGINT) AS isodow,
       COUNT(*) AS n_days,
       ROUND(CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 9) AS seasonal_r9
FROM resid GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------ corpus diversity


def _diversity_partial(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) document counts — additive, so stored
    partials merge with ``merge_sums(_, "source", "lang")``."""
    return docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))


def _diversity_finish(counts: DataFrame) -> DataFrame:
    wtot = Window.partitionBy("source")
    probs = counts.select(
        "source",
        (
            F.col("nl").cast("double")
            / F.sum("nl").over(wtot).cast("double")
        ).alias("p"),
    )
    agg = probs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(_dec(F.col("p") * F.col("p"))).cast("double").alias("sum_p2"),
    )
    return agg.select(
        "source",
        "n_langs",
        F.round(F.lit(1.0) - F.col("sum_p2"), 9).alias("gini_simpson_r9"),
        F.round(F.lit(1.0) / F.col("sum_p2"), 9).alias("effective_langs_r9"),
    ).orderBy("source")


@query
def q_diversity_index(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source language diversity: Gini-Simpson 1 − Σp² and the
    effective number of languages 1/Σp² — the rational diversity
    measures (Shannon entropy needs ln, which the determinism
    contract bans from oracled values; ENL plays the same role as
    perplexity). Two nested hash aggregates over (source, lang).
    """
    return _diversity_finish(_diversity_partial(load_table(spark, sf, "documents")))


Q_DIVERSITY_INDEX_SQL = """
WITH counts AS (
  SELECT source, lang, COUNT(*) AS nl FROM documents GROUP BY 1, 2),
probs AS (
  SELECT source, nl,
         CAST(nl AS DOUBLE)
           / CAST(SUM(nl) OVER (PARTITION BY source) AS DOUBLE) AS p
  FROM counts),
agg AS (
  SELECT source, COUNT(*) AS n_langs,
         CAST(SUM(CAST(p * p AS DECIMAL(38,6))) AS DOUBLE) AS sum_p2
  FROM probs GROUP BY 1)
SELECT source, n_langs,
       ROUND(1.0 - sum_p2, 9) AS gini_simpson_r9,
       ROUND(1.0 / sum_p2, 9) AS effective_langs_r9
FROM agg ORDER BY source
"""


# ------------------------------------------ streamed top paths


@query(twin_of="q_top_paths")
def q_stream_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_top_paths: per-batch candidate first-5-per-user rows
    are mergeable state — the global first-5 of a union is always a
    subset of the union of per-chunk first-5s (min-k is a semilattice
    merge), so each batch lands ≤5 rows per present user and
    q_top_paths' own finish re-ranks the union. Per-batch_id overwrite
    keeps replays idempotent; streamed top-10 ≡ batch q_top_paths,
    same oracle.
    """
    from .queries_ext18 import _first5, _top_paths_finish

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    cand = stream_partials(
        spark,
        ev,
        day_chunk_expr(),
        lambda b: _first5(b).select("event_id", "user_id", "ts", "event_type"),
        "stream_paths_",
    )
    return _top_paths_finish(cand)
