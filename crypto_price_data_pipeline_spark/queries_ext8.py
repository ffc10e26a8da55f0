"""Coverage wave 8 ([EXT], SURVEY.md §2.11): the text→vector bridge.

The similarity stack (cosine/LSH/IVF/PQ, batch retrieval, near-dup →
components) so far consumed only the pre-made ``embeddings`` table.
``operators.text.feature_hash_embed`` closes the gap: a vocabulary-free
hashing-trick bag-of-words embedding derived from ``documents.text``
entirely in-plan, so every vector operator now composes with raw text.
This module registers the three compositions that prove it end-to-end:

- ``q_text_embed_topk`` — embed the corpus, retrieve the top-10 most
  similar docs to doc 0 by exact cosine (text-level semantic search
  without a trained encoder).
- ``q_semantic_dedup`` — SemDeDup-shaped pipeline: derived embeddings →
  near-identical cosine pairs → connected components → keep-min-id
  survivors. Emits every doc in a multi-member cluster with its cluster
  id and the keep decision.
- ``q_knn_join`` — exact k-nearest-neighbor self-join over the
  ``embeddings`` table (per-item top-k of every item): the
  dataset-cartography / kNN-relabeling primitive. Gated quadratic
  baseline; the indexed scale path is ``similarity.lsh_topk_batch``
  (probe the persisted LSH index with the corpus itself as the query
  batch).

All three are bit-exact-oracled: the md5-bucket hash, the count
vectors, and the fold-ordered dot products are reproduced verbatim in
DuckDB (same hex fold the mixture-hash oracle uses; same
list_dot_product equivalence the q_embedding_topk oracle proved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .operators.text import feature_hash_embed
from .registry import query

_DIM = 64

# DuckDB rebuild of feature_hash_embed(dim=64): same alnum splitter the
# TF-IDF/contamination oracles use, md5 hex→int via the portable base-16
# digit fold, bucket counts as DOUBLE[] (exact small integers).
_VECS_CTE = """
toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents
),
bkts AS (
  SELECT doc_id,
         list_transform(toks, t ->
             CAST(list_reduce(list_transform(range(1, 9),
                      i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
                  (a, b) -> a * 16 + b) % 64 AS INTEGER)) AS bs
  FROM toked
),
vecs AS (
  SELECT doc_id,
         list_transform(range(0, 64), i -> CAST(len(list_filter(bs, b -> b = CAST(i AS INTEGER))) AS DOUBLE)) AS v
  FROM bkts
)
"""


@query
def q_text_embed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic search over raw text: hash-embed every document in-plan
    and return the exact cosine top-10 against doc 0's vector. Same
    TakeOrderedAndProject shape as q_embedding_topk — one corpus scan,
    no shuffle — with the embedding derivation fused into the scan
    projection (the 100-TB plan: no materialized vector table needed).
    The one collect is the O(1) query row; cosine over raw count
    vectors equals cosine over normalized ones, so no norm pass."""
    from .operators.similarity import cosine_topk

    docs = load_table(spark, sf, "documents")
    emb = feature_hash_embed(docs, dim=_DIM)
    _row = emb.where(F.col("doc_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "doc_id bigint, cosine_sim_r9 double")
    query = [float(x) for x in _row["embedding"]]
    out = cosine_topk(emb, query, k=10, id_col="doc_id")
    return out.select("doc_id", F.round("cosine_sim", 9).alias("cosine_sim_r9"))


Q_TEXT_EMBED_TOPK_SQL = f"""
WITH {_VECS_CTE},
q AS (SELECT v AS qv FROM vecs WHERE doc_id = 0)
SELECT doc_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9) AS cosine_sim_r9
FROM vecs, q
ORDER BY list_dot_product(v, qv)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC, doc_id
LIMIT 10
"""


@query
def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-shaped curation stage on DERIVED embeddings: hash-embed
    the corpus, pair docs whose cosine (rounded to 9) ≥ 0.995 —
    near-identical bag-of-words, the planted text near-dups sit ≥ .997
    while the word-soup background tops out ~.95 — close the pairs into
    components, keep the min doc_id per cluster. Emits the multi-member
    clusters only: (doc_id, cluster_id, kept).

    Scale: the pair step here is the GATED broadcast-NL exact baseline
    (same contract as embedding_neardup_pairs — refuses > max_docs); at
    corpus scale generate candidates with minhash_lsh_pairs on the text
    or lsh_topk_batch on the vectors and verify survivors with this
    exact cosine rule. Components is hash-min label propagation
    (operators.components), 2-3 rounds on near-clique dedup graphs."""
    from .operators.components import connected_components
    from .operators.dedup import _gate_corpus_size
    from .operators.similarity import cosine_pairs, norm_vectors

    docs = load_table(spark, sf, "documents")
    _gate_corpus_size(docs, 100_000, "q_semantic_dedup", "minhash_lsh_pairs candidates")
    # norm_vectors materializes the derived vectors BEFORE pairing (the
    # embed fold must not collapse into the pair join) and breaks the
    # single-file scan into a parallel NLJ stream side; cosine_pairs is
    # the shared exact rule the streaming processor and its tests use.
    e = norm_vectors(feature_hash_embed(docs, dim=_DIM), "doc_id")
    pairs = cosine_pairs(e, e, 0.995, "doc_id")
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, pairs, "id", num_partitions=8)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_sz"))
    return (
        comp.join(sizes.where(F.col("_sz") > 1), "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("id") == F.col("component")).alias("kept"),
        )
        .orderBy("cluster_id", "doc_id")
    )


Q_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {_VECS_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.995
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY n),
sized AS (
  SELECT doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS sz
  FROM clusters
)
SELECT doc_id, cluster_id, doc_id = cluster_id AS kept
FROM sized WHERE sz > 1
ORDER BY cluster_id, doc_id
"""


@query
def q_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact kNN self-join (k=3) over the embeddings table via
    operators.similarity.knn_join — per-item nearest neighbors for
    EVERY item in one pass (dataset cartography, kNN relabeling,
    duplicate-neighborhood audits). Gated quadratic baseline; scale
    path in the operator docstring."""
    from .operators.similarity import knn_join

    emb = load_table(spark, sf, "embeddings")
    return knn_join(emb, k=3)


Q_KNN_JOIN_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nbr_id, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, nbr_id) AS rnk
  FROM p
)
SELECT vec_id, nbr_id, ROUND(c, 9) AS cosine_sim_r9, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk <= 3
ORDER BY vec_id, rnk
"""


@query
def q_stream_text_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time text indexing end-to-end: the raw documents table
    replays as a 3-micro-batch stream; each batch is feature-hash
    embedded IN the micro-batch and bucketed into the replay-safe
    per-batch_id LSH store (streaming/ann_stream.stream_text_lsh_index);
    the query then probes the streamed index. Embedding and bucketing
    are pure per-row functions, so the streamed index is row-identical
    to a one-shot batch build and the probe matches the batch path.
    Output = the oracled exact top-10 over the derived vectors + an
    in-plan recall@10 ≥ 0.8 flag (measured 1.0 at sf0.001/0.01/0.1 —
    bag-of-words vectors cluster, unlike the isotropic embeddings
    table, so LSH recall is high at the same probe budget)."""
    from .operators.similarity import cosine_topk, lsh_cosine_topk
    from .queries import _ann_with_recall
    from .streaming.ann_stream import stream_text_lsh_index

    docs = load_table(spark, sf, "documents")
    emb = feature_hash_embed(docs, dim=_DIM).withColumnRenamed("doc_id", "vec_id")
    _row = emb.where(F.col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame(
            [], "doc_id bigint, cosine_sim_r9 double, recall_ok boolean"
        )
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    index = stream_text_lsh_index(spark, docs, dim=_DIM, bits=6, n_chunks=3)
    ann = lsh_cosine_topk(
        index.withColumnRenamed("doc_id", "vec_id"), query, k=10, bits=6, probe_radius=2
    )
    out = _ann_with_recall(exact, ann, k=10, floor=0.8)
    return out.select(F.col("vec_id").alias("doc_id"), "cosine_sim_r9", "recall_ok")


Q_STREAM_TEXT_ANN_SQL = f"""
WITH {_VECS_CTE},
q AS (SELECT v AS qv FROM vecs WHERE doc_id = 0)
SELECT doc_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9) AS cosine_sim_r9,
       TRUE AS recall_ok
FROM vecs, q
ORDER BY list_dot_product(v, qv)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC, doc_id
LIMIT 10
"""


@query
def q_stream_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time semantic dedup through real streaming machinery: the
    corpus replays as 4 micro-batches; each batch feature-hash embeds
    itself, scores against the persistent vector store (every seen
    doc's vector, dropped included), and drops docs with any smaller-id
    partner at round(cosine, 9) ≥ 0.995 — the batch anti-join rule,
    which the exhaustive DuckDB oracle computes corpus-wide (NOT the
    component-min rule of q_semantic_dedup; see
    streaming/semantic_stream.py for the difference). Output aggregates
    survivors per lang (count + id/char checksums) to pin membership."""
    from .streaming.semantic_stream import stream_semantic_dedup

    docs = load_table(spark, sf, "documents")
    surv = stream_semantic_dedup(
        spark, docs, keep_cols=["lang", "n_chars"], threshold=0.995, n_chunks=4
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


Q_STREAM_SEMANTIC_DEDUP_SQL = f"""
WITH {_VECS_CTE},
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.995
)
SELECT lang, COUNT(*) AS n_survivors,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY lang
ORDER BY lang
"""


@query
def q_cross_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus decontamination by near-dup: split the corpus into a
    "reference" (even doc_id) and a "new crawl" (odd doc_id) and report
    every new doc that near-duplicates a reference doc (exact shingle
    Jaccard ≥ 0.8 on MinHash-LSH candidates) — the crawl-vs-corpus /
    eval-vs-train shape, bipartite rather than a self-join
    (operators.dedup.minhash_cross_pairs). The oracle computes the
    exhaustive cross pair set. Recall pinning: the threshold matches
    the family default 0.8, where 16-band/4-row banding misses a pair
    with probability (1-J⁴)¹⁶ ≤ 3e-3, and the measured cross pairs all
    sit at J ≥ 0.889 (miss ≤ 1.5e-7; verified exhaustively at
    sf0.001/0.01/0.1 with NO background pair anywhere in [0.35, 0.88),
    so a future testdata regeneration cannot silently land in the
    recall-fragile band without the oracle catching it)."""
    from .operators.dedup import minhash_cross_pairs

    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    return minhash_cross_pairs(new, ref, threshold=0.8)


Q_CROSS_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
"""


@query
def q_rag_index(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical RAG ingestion + retrieval pipeline as ONE
    declarative chain: tokenize → 32-token chunks (in-row HOF slicing,
    zero shuffle) → feature-hash embed each chunk → exact cosine
    retrieval of the top-10 chunks for the query (doc 0's first chunk).
    Returns (doc_id, chunk_idx, cosine_sim_r9). At scale the chunk
    vectors persist through write_lsh_index and retrieval probes
    buckets (q_lsh_served_topk's path); this query pins the exact
    end-to-end semantics bit-exactly against a full DuckDB rebuild."""
    from .operators.similarity import _dot, _lit_vec

    import math

    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    staged = docs.select("doc_id", toks.alias("_t"))
    n = F.size("_t")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(32)).cast("int")),
            lambda i: F.struct(
                i.cast("int").alias("ci"),
                F.array_join(F.slice("_t", i * 32 + 1, 32), " ").alias("ctext"),
            ),
        ),
    ).otherwise(F.array())
    chunked = staged.select("doc_id", F.explode(chunks).alias("_c")).select(
        "doc_id", F.col("_c.ci").alias("chunk_idx"), F.col("_c.ctext").alias("chunk_text")
    )
    emb = feature_hash_embed(
        chunked, id_col="doc_id", text_col="chunk_text", dim=_DIM,
        keep_cols=["chunk_idx"],
    )
    qrow = emb.where((F.col("doc_id") == 0) & (F.col("chunk_idx") == 0)).first()
    if qrow is None:
        # empty corpus: no probe chunk exists; well-defined empty result
        return spark.createDataFrame(
            [], "doc_id bigint, chunk_idx int, cosine_sim_r9 double"
        )
    query = [float(x) for x in qrow["embedding"]]
    qnorm = math.sqrt(sum(x * x for x in query))
    e = F.col("embedding")
    sim = _dot(e, _lit_vec(query)) / (F.sqrt(_dot(e, e)) * F.lit(qnorm))
    return (
        emb.select("doc_id", "chunk_idx", sim.alias("_s"))
        .orderBy(F.col("_s").desc(), "doc_id", "chunk_idx")
        .limit(10)
        .select("doc_id", "chunk_idx", F.round("_s", 9).alias("cosine_sim_r9"))
    )


Q_RAG_INDEX_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
chunked AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, t[i*32+1 : i*32+32] AS ct
  FROM toked, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
  ) ix
),
cbkts AS (
  SELECT doc_id, chunk_idx,
         list_transform(ct, t ->
             CAST(list_reduce(list_transform(range(1, 9),
                      i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
                  (a, b) -> a * 16 + b) % 64 AS INTEGER)) AS bs
  FROM chunked
),
cvecs AS (
  SELECT doc_id, chunk_idx,
         list_transform(range(0, 64), i -> CAST(len(list_filter(bs, b -> b = CAST(i AS INTEGER))) AS DOUBLE)) AS v
  FROM cbkts
),
q AS (SELECT v AS qv FROM cvecs WHERE doc_id = 0 AND chunk_idx = 0)
SELECT doc_id, chunk_idx,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9) AS cosine_sim_r9
FROM cvecs, q
ORDER BY list_dot_product(v, qv)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC, doc_id, chunk_idx
LIMIT 10
"""


@query
def q_quality_topfrac(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile-threshold curation (dynamic cut, vs the fixed-constant
    gates of the curation pipelines): keep the least-repetitive 75% of
    the corpus, where the threshold is the EXACT 75th percentile of the
    repetition ratio computed from the data itself — the standard
    "keep top X% by signal" pattern when no absolute threshold is
    defensible. Exact sort-based percentile ≡ DuckDB quantile_cont
    bit-for-bit (pinned by q_percentiles), broadcast back as a 1-row
    scalar (free at any scale; the signal itself is a zero-shuffle
    per-row projection). Emits per-lang survivor accounting plus the
    threshold so the cut point itself is oracled."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    rep = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = docs.select("doc_id", "lang", rep.alias("_rep"))
    thr = scored.agg(F.percentile("_rep", 0.75).alias("_thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("_rep") <= F.col("_thr"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
            F.round(F.first("_thr"), 9).alias("rep_threshold_r9"),
        )
        .orderBy("lang")
    )


Q_QUALITY_TOPFRAC_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         round(1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1), 6) AS rep
  FROM base
),
t AS (SELECT quantile_cont(rep, 0.75) AS thr FROM r)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       round((SELECT thr FROM t), 9) AS rep_threshold_r9
FROM r
WHERE rep <= (SELECT thr FROM t)
GROUP BY lang
ORDER BY lang
"""
