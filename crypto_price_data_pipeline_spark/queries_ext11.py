"""Coverage wave 11 ([EXT]): the remaining serving/curation primitives
a 100-TB refinery runs — CDC merge, authority ranking, diversified
retrieval, vocabulary coverage, shard planning, hard-negative mining.

- ``q_merge_upsert`` — MERGE INTO semantics (``operators/merge.py``):
  a CDC batch derived from the events feed (latest event per user;
  ``error`` ⇒ delete, else upsert) applies to the customer snapshot in
  one plan. The base table never shuffles (broadcast-left matched
  path); only its pruned key column feeds the insert anti-join.
- ``q_graph_rank`` — weighted PageRank over the nation-level trade
  graph (customer-nation → supplier-nation, weight = lineitem count)
  in fixed-point BIGINT arithmetic (``operators/graph.py``): every
  iteration is integer-exact, so 5 iterations are bit-identical on
  any engine/partitioning — the oracle unrolls the same 5 steps as
  chained CTEs.
- ``q_mmr_topk`` — Maximal-Marginal-Relevance diversified top-5 over
  a 12-item shortlist (``similarity.mmr_rerank``): the greedy argmax
  chain is statically unrolled into the plan (broadcast-only joins),
  the oracle unrolls the identical chain in SQL.
- ``q_vocab_coverage`` — train-split vocabulary (top-256 tokens by
  doc-frequency, tie → token asc) and the held-out OOV rate per
  language; OOV aggregated as exact integer sums divided once (no
  order-dependent double accumulation).
- ``q_shard_manifest`` — token-budget output sharding: docs in a
  seeded epoch-shuffle order get exclusive token offsets via the
  two-phase distributed prefix sum; ``shard_id = offset div 2048``.
  Per-shard manifest (docs, tokens, pos range, id checksum) is what a
  writer fans out over — computed with no global sort.
- ``q_hard_negatives`` — retrieval-training hard negatives: for 8
  query vectors, the top-3 most-similar items with a DIFFERENT label
  (broadcast-NLJ scored in one corpus pass, per-query window top-k).

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .io.sources import load_table
from .operators.text import tokenize
from .registry import query


# ----------------------------------------------- CDC merge (MERGE INTO)


def _cdc_partial(ev: DataFrame) -> DataFrame:
    """Each user's latest event — the change row q_merge_upsert applies.
    Also the ``merge`` of stored partials (latest of latests)."""
    from .operators.merge import latest_per_key

    cols = ev.select("event_id", "ts", "user_id", "event_type", "value")
    return latest_per_key(cols, "user_id", "ts", "event_id")


def _cdc_finish(spark: SparkSession, sf: str, latest: DataFrame) -> DataFrame:
    """Apply the per-user latest events to the customer snapshot."""
    from .operators.merge import merge_upsert

    changes = latest.select(
        (F.col("user_id") + F.lit(100)).alias("c_custkey"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
        F.col("value").alias("new_bal"),
    )
    base = load_table(spark, sf, "customer")
    merged = merge_upsert(
        base,
        changes,
        "c_custkey",
        update_set={"c_acctbal": "new_bal"},
        insert_values={
            "c_name": F.concat(F.lit("cdc-"), F.col("c_custkey").cast("string")),
            "c_nationkey": (F.col("c_custkey") % 25).cast("int"),
            "c_acctbal": F.col("_chg_new_bal"),
            "c_mktsegment": F.lit("CDC"),
        },
    )
    return merged.orderBy("c_custkey")


@query
def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the latest-event-per-user CDC batch to the customer
    snapshot: key = user_id + 100 (so the batch spans matched updates,
    matched deletes, AND beyond-the-snapshot inserts), ``error``
    events delete, everything else upserts the account balance.
    Cites reference ``dump_with_postgres.py`` row-maintenance loop —
    re-expressed as one declarative MERGE plan."""
    return _cdc_finish(spark, sf, _cdc_partial(load_table(spark, sf, "events")))


Q_MERGE_UPSERT_SQL = """
WITH latest AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
changes AS (
  SELECT user_id + 100 AS key,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value AS new_bal
  FROM latest),
matched AS (
  SELECT c.c_custkey, c.c_name, c.c_nationkey,
         CASE WHEN ch.op = 'upsert' THEN ch.new_bal ELSE c.c_acctbal END AS c_acctbal,
         c.c_mktsegment,
         CASE WHEN ch.op = 'upsert' THEN 'updated' ELSE 'kept' END AS merge_action
  FROM customer c LEFT JOIN changes ch ON c.c_custkey = ch.key
  WHERE ch.op IS NULL OR ch.op <> 'delete'),
ins AS (
  SELECT ch.key AS c_custkey,
         'cdc-' || CAST(ch.key AS VARCHAR) AS c_name,
         CAST(ch.key % 25 AS INT) AS c_nationkey,
         ch.new_bal AS c_acctbal,
         'CDC' AS c_mktsegment,
         'inserted' AS merge_action
  FROM changes ch LEFT JOIN customer c ON c.c_custkey = ch.key
  WHERE ch.op = 'upsert' AND c.c_custkey IS NULL)
SELECT * FROM matched UNION ALL SELECT * FROM ins ORDER BY c_custkey
"""


# --------------------------------------- fixed-point weighted PageRank


@query
def q_graph_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Source-authority ranking over the nation trade graph: edge
    (customer nation → supplier nation) weighted by lineitem count,
    then 5 fixed-point PageRank iterations. The heavy stage is the
    edge aggregation (lineitem⨝orders co-keyed shuffle + broadcast
    dims); each iteration is one broadcast join + map-side-combinable
    sum over the 625-row edge table."""
    from .operators.graph import weighted_pagerank

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = weighted_pagerank(edges, n_iter=5)
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(nation), ranks["node"] == nation["n_nationkey"])
        .select("node", "n_name", "rank_scaled")
        .orderBy("node")
    )


# 5 unrolled integer-exact iterations; DuckDB's SUM(BIGINT) widens to
# HUGEINT, so every aggregate is cast back to BIGINT to match Spark.
_PR_STEP = """
r{i} AS (
  SELECT n.node,
         CAST((15000000000000 // (100 * (SELECT COUNT(*) FROM nodes)))
              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM((p.r * e.w) // o.out_w) AS BIGINT) AS s
    FROM edges e JOIN outw o ON e.src = o.src JOIN r{prev} p ON p.node = e.src
    GROUP BY e.dst) s ON s.node = n.node)
"""

Q_GRAPH_RANK_SQL = (
    """
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
r0 AS (SELECT node,
              CAST(1000000000000 // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS r
       FROM nodes),
"""
    + ",".join(_PR_STEP.format(i=i, prev=i - 1) for i in range(1, 6))
    + """
SELECT r5.node, n.n_name, r5.r AS rank_scaled
FROM r5 JOIN nation n ON n.n_nationkey = r5.node
ORDER BY r5.node
"""
)


# ------------------------------------------- MMR diversified retrieval


@query
def q_mmr_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Diversified top-5 for the vec_id=7 query vector over a 12-item
    relevance shortlist, λ=0.7 — the greedy trade of relevance against
    redundancy every RAG serving layer needs after ANN."""
    from .operators.similarity import mmr_rerank

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(F.col("vec_id") == 7).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame(
            [], "mmr_rank int, vec_id bigint, mmr_score_r9 double"
        )
    qv = [float(x) for x in _row["embedding"]]
    out = mmr_rerank(emb, qv, k=5, shortlist=12, lam=0.7)
    return out.withColumnRenamed("rank", "mmr_rank")


Q_MMR_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
short AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) AS rel
  FROM embeddings, q
  ORDER BY rel DESC, vec_id LIMIT 12),
sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
  FROM short a, short b WHERE a.vec_id <> b.vec_id),
s1 AS (SELECT vec_id, rel, 1 AS mmr_rank, rel AS score
       FROM short ORDER BY rel DESC, vec_id LIMIT 1),
p1 AS (SELECT vec_id FROM s1),
c2 AS (SELECT s.vec_id, s.rel, 0.7 * s.rel - (1.0 - 0.7) * MAX(m.sim) AS score
       FROM short s JOIN sims m ON m.a_id = s.vec_id
            AND m.b_id IN (SELECT vec_id FROM p1)
       WHERE s.vec_id NOT IN (SELECT vec_id FROM p1)
       GROUP BY s.vec_id, s.rel),
s2 AS (SELECT vec_id, rel, 2 AS mmr_rank, score FROM c2 ORDER BY score DESC, vec_id LIMIT 1),
p2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM s2),
c3 AS (SELECT s.vec_id, s.rel, 0.7 * s.rel - (1.0 - 0.7) * MAX(m.sim) AS score
       FROM short s JOIN sims m ON m.a_id = s.vec_id
            AND m.b_id IN (SELECT vec_id FROM p2)
       WHERE s.vec_id NOT IN (SELECT vec_id FROM p2)
       GROUP BY s.vec_id, s.rel),
s3 AS (SELECT vec_id, rel, 3 AS mmr_rank, score FROM c3 ORDER BY score DESC, vec_id LIMIT 1),
p3 AS (SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM s3),
c4 AS (SELECT s.vec_id, s.rel, 0.7 * s.rel - (1.0 - 0.7) * MAX(m.sim) AS score
       FROM short s JOIN sims m ON m.a_id = s.vec_id
            AND m.b_id IN (SELECT vec_id FROM p3)
       WHERE s.vec_id NOT IN (SELECT vec_id FROM p3)
       GROUP BY s.vec_id, s.rel),
s4 AS (SELECT vec_id, rel, 4 AS mmr_rank, score FROM c4 ORDER BY score DESC, vec_id LIMIT 1),
p4 AS (SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM s4),
c5 AS (SELECT s.vec_id, s.rel, 0.7 * s.rel - (1.0 - 0.7) * MAX(m.sim) AS score
       FROM short s JOIN sims m ON m.a_id = s.vec_id
            AND m.b_id IN (SELECT vec_id FROM p4)
       WHERE s.vec_id NOT IN (SELECT vec_id FROM p4)
       GROUP BY s.vec_id, s.rel),
s5 AS (SELECT vec_id, rel, 5 AS mmr_rank, score FROM c5 ORDER BY score DESC, vec_id LIMIT 1)
SELECT mmr_rank, vec_id, ROUND(score, 9) AS mmr_score_r9
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
      UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
ORDER BY mmr_rank
"""


# ------------------------------------------ vocabulary / OOV coverage


@query
def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Build the top-256 doc-frequency vocabulary on the train split
    (q_train_split's md5-nibble rule), then measure held-out OOV per
    language. The rate divides two exact integer sums once — no
    order-dependent double accumulation anywhere.

    Serving shape (r13): BOTH counting passes come from the stored
    (w, lang, nib, c, df) cube (artifacts.token_lang_counts) — train
    document frequency is the sum of per-cell ``df`` over train
    nibbles (cells partition the docs, so summed per-cell distincts
    ARE the split distinct), and held-out token/OOV masses are sums
    of per-cell ``c``. The only documents scan left is the
    tokenize-free held-doc counter (an ``rlike '[a-z0-9]'`` guard
    reproduces "has at least one token" without building the token
    array — a token exists under the ``[^a-z0-9]+`` split iff a
    lowercased alnum char exists). Zero tokenize+explode in this
    plan; the cube builds once per corpus version. Tokenizer is the
    cube's normalized ``tokens_col`` (lower + non-alnum split) —
    changed in r13 from whitespace split so the vocabulary query
    shares the corpus counting cube with the DSIR/NB scorers; the
    oracle pins the same rule."""
    from .artifacts import token_lang_counts

    held_nibs = ("c", "d", "e", "f")
    tc = token_lang_counts(spark, sf)
    vocab = (
        tc.where(~F.col("nib").isin(*held_nibs))
        .groupBy(F.col("w").alias("token"))
        .agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(256)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    held = (
        tc.where(F.col("nib").isin(*held_nibs))
        .groupBy(F.col("w").alias("token"), "lang")
        .agg(F.sum("c").alias("c"))
    )
    tok_stats = (
        held.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
    )
    n_docs = (
        load_table(spark, sf, "documents")
        .where(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(*held_nibs)
            & F.lower("text").rlike("[a-z0-9]")
        )
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    return (
        n_docs.join(tok_stats, "lang")
        .select(
            "lang",
            "n_docs",
            "n_tok",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tok").cast("double")).alias(
                "oov_rate"
            ),
        )
        .orderBy("lang")
    )


Q_VOCAB_COVERAGE_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
  FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT unnest(list_distinct(toks)) AS token
    FROM d WHERE nib NOT IN ('c', 'd', 'e', 'f'))
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 256),
held AS (
  SELECT lang, doc_id, unnest(toks) AS token
  FROM d WHERE nib IN ('c', 'd', 'e', 'f'))
SELECT h.lang,
       COUNT(DISTINCT h.doc_id) AS n_docs,
       COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM held h LEFT JOIN vocab v ON h.token = v.token
GROUP BY h.lang ORDER BY h.lang
"""


# ------------------------------------------- token-budget shard plan


@query
def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Output-shard planning: docs in the seeded epoch-shuffle order
    get exclusive cumulative token offsets (two-phase distributed
    prefix sum — no global sort, no one-partition window), and
    ``shard_id = offset div 2048`` assigns ≈2048-token shards. The
    manifest is what a 100-TB writer fans out over.

    r11: rank and offset come from ONE combined two-phase pass
    (ordering.global_order_offsets_inplan) keyed by the epoch-shuffle
    md5 key's hex-prefix bucket — the former epoch_shuffle →
    with_global_offsets composition re-ran the tokenize upstream three
    extra times (the rank's bucket-count collect, the offset's eager
    min/max/count, and its bucket-totals collect) before the real job
    even started; the combined operator is one lazy plan with zero
    driver round-trips. Bit-identical output (same key order, same
    exclusive sums), ~2.3s → ~0.9s at sf0.1."""
    from .operators.ordering import (
        global_order_offsets_inplan,
        hex_prefix_bucket,
    )

    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokenize("text")).alias("n_tok")
    )
    keyed = docs.withColumn(
        "_shuffle_key",
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
    )
    off = global_order_offsets_inplan(
        keyed,
        ["_shuffle_key", "doc_id"],
        hex_prefix_bucket("_shuffle_key", 2),
        weight_col="n_tok",
    )
    return (
        off.withColumn("shard_id", F.expr("`offset` div 2048"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )


Q_SHARD_MANIFEST_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents),
o AS (
  SELECT doc_id, n_tok,
         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY key, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM t)
SELECT off // 2048 AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(pos) AS first_pos,
       MAX(pos) AS last_pos,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM o GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------- hard-negative mining


@query
def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-training hard negatives: for each of 8 query vectors,
    the 3 most-cosine-similar corpus items with a DIFFERENT label —
    one broadcast-NLJ scored corpus pass, per-query window top-k."""
    from .operators.similarity import _dot

    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_v"),
        F.col("label").alias("q_label"),
    )
    sim = _dot(F.col("embedding"), F.col("q_v")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
    )
    scored = (
        emb.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select("q_id", "vec_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= 3)
        .select("q_id", "neg_rank", "vec_id", F.round("sim", 9).alias("sim_r9"))
        .orderBy("q_id", "neg_rank")
    )


Q_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label
  FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e JOIN q ON e.label <> q.q_label),
ranked AS (
  SELECT q_id, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS neg_rank
  FROM scored)
SELECT q_id, neg_rank, vec_id, ROUND(sim, 9) AS sim_r9
FROM ranked WHERE neg_rank <= 3 ORDER BY q_id, neg_rank
"""
