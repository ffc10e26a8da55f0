"""Seventh coverage wave (round 7): the persisted-index ANN serving
path (partition-pruned probes against a ``write_lsh_index`` table),
batched ANN retrieval routed through the index, and the winnowing
substring-dedup cut.

Each query registers with ``@query`` (registry.py). Same determinism
contract as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .queries_ext5 import Q_CONTAMINATION_SQL, _grams5
from .registry import query
from .session import scratch_dir
from .streaming.partial_store import stream_partials


# ----------------------------------------- persisted-index serving


@query(twin_of="q_lsh_topk")
def q_lsh_served_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-10 served from a PERSISTED LSH index: build the bucketed
    table once, write it partitioned by ``_bucket``
    (operators/similarity.write_lsh_index), read it back, probe. The
    registry's other ANN queries rebuild their index in-query; this one
    exercises the layout the index docstrings promise for serving —
    ``_bucket`` becomes a directory-derived partition column, so the
    probe's ``isin`` prunes at the DIRECTORY level (PartitionFilters in
    the scan, machine-checked by tests/test_plan_hygiene.py) and query
    cost is the probed fraction of the corpus, not a full scan. Same
    exact-top-10 oracle + in-plan recall floor as q_lsh_topk, so the
    round-trip through the partitioned layout is value-verified too."""
    from .operators.similarity import (
        cosine_topk,
        hyperplane_lsh_buckets,
        lsh_cosine_topk,
        read_lsh_index,
        write_lsh_index,
    )
    from .queries import _ann_with_recall

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(F.col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    work = scratch_dir("lsh_index_")
    write_lsh_index(hyperplane_lsh_buckets(emb, dim=len(query), bits=6), work)
    served = read_lsh_index(spark, work)
    ann = lsh_cosine_topk(served, query, k=10, bits=6, probe_radius=2)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query(twin_of="q_ivf_topk")
def q_ivf_served_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-10 served from a PERSISTED IVF index (assigned table
    partitioned by ``_list`` + centroid JSON sidecar): the probe reads
    only the n_probe nearest lists' directories — PartitionFilters, not
    a data filter (plan-tested like the LSH twin). Same exact-top-10
    oracle + recall floor as q_ivf_topk."""
    from .operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_topk,
        read_ivf_index,
        write_ivf_index,
    )
    from .queries import _ann_with_recall

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(F.col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    work = scratch_dir("ivf_index_")
    assigned, centroids = ivf_build(emb, n_lists=8)
    write_ivf_index(assigned, centroids, work)
    served, served_centroids = read_ivf_index(spark, work)
    ann = ivf_topk(served, served_centroids, query, k=10, n_probe=5)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


@query(twin_of="q_pq_topk")
def q_pq_served_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-10 served from a PERSISTED PQ index (32×-compressed
    codes table + codebook JSON sidecar): the ADC scan touches only the
    codes parquet — ReadSchema is (vec_id, _codes), plan-tested — and
    the raw-vector table is read only for the 200-row shortlist
    re-rank. Same exact-top-10 oracle + recall floor as q_pq_topk; the
    JSON codebook round-trip is exact (shortest-repr floats), so served
    results match the in-memory build bit-for-bit."""
    from .operators.similarity import (
        cosine_topk,
        pq_build,
        pq_topk,
        read_pq_index,
        write_pq_index,
    )
    from .queries import _ann_with_recall

    emb = load_table(spark, sf, "embeddings")
    _row = emb.where(F.col("vec_id") == 0).first()
    if _row is None:
        # empty corpus: no probe vector exists; well-defined empty result
        return spark.createDataFrame([], "vec_id bigint, cosine_sim_r9 double, recall_ok boolean")
    query = [float(x) for x in _row["embedding"]]
    exact = cosine_topk(emb, query, k=10)
    work = scratch_dir("pq_index_")
    codes, codebooks = pq_build(emb, m=8, codebook_k=16)
    write_pq_index(codes, codebooks, work)
    served_codes, served_books = read_pq_index(spark, work)
    ann = pq_topk(emb, served_codes, served_books, query, k=10, shortlist=200)
    return _ann_with_recall(exact, ann, k=10, floor=0.5)


# ----------------------------------------- batched ANN via the index


def _batch_with_recall(exact: DataFrame, ann: DataFrame, floor: float) -> DataFrame:
    """Batch twin of queries._ann_with_recall: the oracled exact
    per-query top-k rows + ONE batch-wide recall flag (hits over all
    exact (q_id, vec_id) pairs), so an ANN regression below the floor
    flips every row and fails the hash without the oracle having to
    reproduce LSH."""
    hits = exact.join(
        F.broadcast(
            ann.select("q_id", "vec_id").distinct().withColumn("_hit", F.lit(1))
        ),
        ["q_id", "vec_id"],
        "left",
    )
    recall = hits.agg(
        (
            F.coalesce(F.sum("_hit"), F.lit(0))
            / F.count(F.lit(1)).cast("double")
        ).alias("_recall")
    )
    return (
        hits.crossJoin(F.broadcast(recall))
        .select(
            "q_id",
            "vec_id",
            F.round("cosine_sim", 9).alias("cosine_sim_r9"),
            (F.col("_recall") >= floor).alias("recall_ok"),
        )
        .orderBy("q_id", F.col("cosine_sim_r9").desc(), "vec_id")
    )


@query(oracle=lambda: Q_BATCH_LSH_SQL)
def q_batch_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Batched ANN retrieval THROUGH the LSH index — the scale path
    cosine_topk_batch's docstring names: each of the 5 queries computes
    its probe-bucket set in-plan (no collect) and scores only corpus
    rows whose bucket it probes (~34% coverage at 6 bits / radius 2)
    instead of the full Q x N nested loop. Reported as the exact batch
    top-10 (bit-exact oracle, same arithmetic as q_batch_topk) + an
    in-plan batch recall >= 0.5 flag (measured ~0.7 at sf0.01/sf0.1 on
    the ANN-hostile isotropic corpus)."""
    from .operators.similarity import (
        cosine_topk_batch,
        hyperplane_lsh_buckets,
        lsh_topk_batch,
    )

    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    _row = emb.first()
    if _row is None:
        # empty corpus: no vectors to index or probe
        return spark.createDataFrame(
            [], "q_id bigint, vec_id bigint, cosine_sim_r9 double, recall_ok boolean"
        )
    dim = len(_row["embedding"])
    exact = cosine_topk_batch(emb, queries, k=10)
    bucketed = hyperplane_lsh_buckets(emb, dim=dim, bits=6)
    ann = lsh_topk_batch(
        bucketed, queries, dim=dim, k=10, bits=6, probe_radius=2
    )
    return _batch_with_recall(exact, ann, floor=0.5)


Q_BATCH_LSH_SQL = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e CROSS JOIN q
),
r AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, ROUND(sim, 9) AS cosine_sim_r9, TRUE AS recall_ok
FROM r WHERE rn <= 10
ORDER BY q_id, ROUND(sim, 9) DESC, vec_id
"""


# ----------------------------------------- curation pipeline v2


@query(oracle=lambda: _curation_v2_oracle())
def q_curation_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The round-7 flagship composition: corpus curation with the new
    operator wave chained onto the v1 stages — Gopher quality gate →
    dominant-repetition cut → WINNOWING SUBSTRING DEDUP (pair signal →
    connected-components closure → component-min survivors) →
    TRAINING-MIX hash sampling → per-language accounting. The dedup
    closure iterates (label propagation), so unlike v1 this is a
    fixed small number of jobs rather than one plan — the point is
    the COMPOSITION: every stage consumes the previous stage's
    DataFrame lazily, nothing is materialized between quality gate and
    the pair explode, and the oracle replays all six stages as one
    recursive-CTE chain."""
    from .operators.components import connected_components
    from .operators.sampling import stratified_sample_hash
    from .operators.text import (
        quality_scores,
        top_ngram_fraction,
        winnowing_pairs,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "lang")
    scored = quality_scores(docs.select("doc_id", "text")).where(
        F.col("quality_score") >= 0.75
    )
    rep = top_ngram_fraction(scored.select("doc_id", "text"), "text", ns=(2, 3))
    clean = rep.where(
        ~(
            (F.round("top_2gram_frac", 9) > 0.18)
            | (F.round("top_3gram_frac", 9) > 0.16)
        )
    ).select("doc_id", "text")
    pairs = winnowing_pairs(
        clean, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50
    )
    comp = connected_components(
        clean.select(F.col("doc_id").alias("id")), pairs, id_col="id",
        num_partitions=8,
    )
    surv = comp.where(F.col("id") == F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    mixed = stratified_sample_hash(
        surv.join(docs.select("doc_id", "lang"), "doc_id"),
        "lang",
        _MIX,
        "doc_id",
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def _curation_v2_oracle() -> str:
    from .queries_ext6 import Q_CURATION_PIPELINE_SQL

    # reuse v1's quality + repetition CTE chain verbatim up to `clean`
    prefix = Q_CURATION_PIPELINE_SQL.split("ded AS")[0].rstrip().rstrip(",")
    prefix = prefix.replace("WITH base AS", "WITH RECURSIVE base AS", 1)
    return f"""{prefix},
wclean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM clean
),
wpos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM wclean
),
wpos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM wpos0),
wwins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM wpos
),
wfp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wwins WHERE i <= greatest(n_grams - 7, 1)
),
wrare AS (SELECT fingerprint FROM wfp GROUP BY 1 HAVING COUNT(*) <= 50),
wp AS (SELECT f.doc_id, f.fingerprint FROM wfp f JOIN wrare USING (fingerprint)),
wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM wp a JOIN wp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
),
wedges AS (
  SELECT id_a AS s, id_b AS d FROM wpairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM wpairs
),
wreach AS (
  SELECT doc_id AS n, doc_id AS m FROM clean
  UNION
  SELECT r.n, e.d FROM wreach r JOIN wedges e ON r.m = e.s
),
surv AS (SELECT n AS doc_id FROM wreach GROUP BY n HAVING n = MIN(m)),
hashed AS (
  SELECT s.doc_id, d.lang,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(s.doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS bucket
  FROM surv s JOIN documents d USING (doc_id)
),
mixed AS (
  SELECT h.doc_id, h.lang
  FROM hashed h JOIN (VALUES {_MIX_VALUES_SQL}) AS f(lang, frac) ON h.lang = f.lang
  WHERE h.bucket < f.frac * 4294967296
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM mixed GROUP BY lang ORDER BY lang
"""


# ----------------------------------------- compacted rollup serving


@query
def q_compacted_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate maintenance WITH compaction, end-to-end:
    the events stream rolls up across multiple micro-batches
    (maxFilesPerTrigger bounds each), then compact_rollup folds the
    per-batch partials into one settled subdir, and the result is
    served from the compacted store. The oracle is the plain GROUP BY —
    the invariant is incremental maintenance + compaction ≡ one-shot
    aggregation (compaction must be a pure re-bucketing, decimal-exact
    sums included). ``compacted`` attests that folding actually
    happened (≥2 subdirs merged), so a silently-no-op compaction fails
    the hash."""
    from .streaming.continuous_agg import (
        compact_rollup,
        read_rollup,
        start_continuous_rollup,
    )

    events = load_table(spark, sf, "events")
    work = scratch_dir("compact_rollup_")
    raw = f"{work}/raw"
    events.repartition(4).write.parquet(raw)
    schema = spark.read.parquet(raw).schema
    q = start_continuous_rollup(
        spark, raw, f"{work}/rollup", f"{work}/ckpt", schema,
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    folded = compact_rollup(spark, f"{work}/rollup")
    return read_rollup(spark, f"{work}/rollup").select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "sum_value",
        "min_value",
        "max_value",
        F.lit(folded >= 2).alias("compacted"),
    )


Q_COMPACTED_ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       TRUE AS compacted
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ----------------------------------------- winnowing dedup cut


@query
def q_winnow_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr-style dedup DECISION from the winnowing pair signal
    (closing the loop r6's VERDICT noted open: winnowing_pairs emits
    pairs but no cut): verified substring-overlap pairs →
    connected-components transitive closure (hash-min label
    propagation, operators/components.py) → keep each component's min
    doc_id. Emits every doc's (component, survivor) so the oracle
    checks the full induced clustering, not just the survivor list —
    the DuckDB twin recomputes the pair rule with the same CTE as
    q_winnowing_pairs and closes it with a recursive reachability CTE.
    Greedy keep-min-id would under-merge chains (A~B, B~C with A~C
    untested); the closure is the correct cut. The sketch postings come
    from the per-corpus artifact store (shared with q_winnowing_pairs)."""
    from .artifacts import winnow_postings
    from .operators.components import connected_components
    from .operators.text import winnowing_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    pairs = winnowing_pairs(
        docs, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50,
        fp=winnow_postings(spark, sf),
    )
    comp = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs, id_col="id",
        num_partitions=8,
    )
    return (
        comp.select(
            F.col("id").alias("doc_id"),
            "component",
            (F.col("id") == F.col("component")).alias("survivor"),
        )
        .orderBy("doc_id")
    )


_WINNOW_PAIR_CTES = """
clean AS (
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
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
)
"""

Q_WINNOW_DEDUP_SQL = f"""
WITH RECURSIVE {_WINNOW_PAIR_CTES.strip().rstrip()},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach AS (
  SELECT doc_id AS n, doc_id AS m FROM documents
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
)
SELECT n AS doc_id, MIN(m) AS component, n = MIN(m) AS survivor
FROM reach GROUP BY n
ORDER BY doc_id
"""


@query(twin_of="q_mixture_sample_hash")
def q_stream_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time training-mix enforcement: the documents table
    replays as a multi-batch stream and each micro-batch applies the
    zero-shuffle hash-threshold mixture predicate, landing its picks in
    a per-batch_id overwrite store (replay-idempotent, the standard
    pattern here). Because the predicate is a pure per-row function,
    the union of per-batch picks must equal the batch selection
    EXACTLY — same oracle SQL as q_mixture_sample_hash — no matter how
    the corpus was chunked. This is how a mix is enforced while 100 TB
    streams in, instead of re-scanning after landing."""
    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    picked = stream_partials(
        spark, docs, F.col("doc_id") % 3, _mixture_partial, "stream_mix_"
    )
    return _mixture_finish(picked)


# ----------------------------------------- bloom contamination prefilter


@query
def q_bloom_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom pre-filter in front of the contamination scan
    (operators/bloom.py): the benchmark side (planted exactly like
    q_contamination: docs with doc_id % 97 == 0 carry the first 30
    tokens of doc doc_id+1) builds an 8 KiB bitmap over its 5-grams;
    every training doc then probes its own gram array IN-ROW against
    the broadcast bitmap — zero shuffle, zero explode on the corpus
    side. The oracle pins the Bloom no-false-negative guarantee: every
    planted donor doc MUST be flagged (literal TRUE; the row vanishes
    on a false negative and the hash fails). False-positive survivors
    are engine-specific by design and flow to the exact check, so they
    are not part of the verified output."""
    from .operators.bloom import bloom_build, bloom_hit

    docs = load_table(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )

    tokenized = docs.select("doc_id", toks.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )
    bench_grams = evals.select(F.explode(_grams5(F.col("_t"))).alias("gram"))
    bloom = bloom_build(bench_grams, m_bits=1 << 16, k=3)
    train = tokenized.where(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_id"), _grams5(F.col("_t")).alias("_g")
    )
    flagged = train.crossJoin(F.broadcast(bloom)).select(
        "train_id",
        bloom_hit(F.col("_g"), F.col("words"), 1 << 16, 3).alias("bloom_caught"),
    )
    donors = evals.select(
        F.col("doc_id").alias("eval_id"), (F.col("doc_id") + 1).alias("train_id")
    )
    return (
        donors.join(flagged, "train_id")
        .select("eval_id", "train_id", "bloom_caught")
        .orderBy("eval_id")
    )


Q_BLOOM_CONTAMINATION_SQL = """
SELECT d.doc_id AS eval_id, d.doc_id + 1 AS train_id, TRUE AS bloom_caught
FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
WHERE d.doc_id % 97 = 0
ORDER BY eval_id
"""


# the composed pipeline must equal the unfiltered exact answer — same
# oracle as q_contamination (see its docstring)
@query(oracle=lambda: Q_CONTAMINATION_SQL)
def q_contamination_prefiltered(spark: SparkSession, sf: str) -> DataFrame:
    """The composed two-stage contamination pipeline: Bloom pre-filter
    (stage 1, in-row bitmap probe) feeding the exact 5-gram containment
    argmax (stage 2) — oracled against the SAME SQL as the unfiltered
    q_contamination. That equality is a theorem the query verifies
    end-to-end: any train doc with n_shared ≥ 1 shares a benchmark
    gram, which is in the bitmap by construction, so the pre-filter can
    drop only zero-overlap docs (which the exact inner join ignores
    anyway) and false positives wash out in the exact stage. At 100 TB
    stage 2's explode+join runs on the Bloom survivors instead of the
    corpus."""
    from .operators.bloom import bloom_build, bloom_hit

    docs = load_table(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )

    tokenized = docs.select("doc_id", toks.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )
    bloom = bloom_build(
        evals.select(F.explode(_grams5(F.col("_t"))).alias("gram")),
        m_bits=1 << 16,
        k=3,
    )
    survivors = (
        tokenized.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", _grams5(F.col("_t")).alias("_g"))
        .crossJoin(F.broadcast(bloom))
        .where(bloom_hit(F.col("_g"), F.col("words"), 1 << 16, 3))
        .select("doc_id", "_g")
    )
    e_grams = evals.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(_grams5(F.col("_t"))).alias("gram"),
        F.size(_grams5(F.col("_t"))).alias("n_eval_grams"),
    )
    t_grams = survivors.select(
        F.col("doc_id").alias("train_id"), F.explode("_g").alias("gram")
    )
    shared = (
        t_grams.join(F.broadcast(e_grams), "gram")
        .groupBy("eval_id", "train_id", "n_eval_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("eval_id").orderBy(
        (F.col("n_shared") / F.col("n_eval_grams")).desc(), F.col("train_id").asc()
    )
    return (
        shared.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "eval_id",
            "train_id",
            F.round(F.col("n_shared") / F.col("n_eval_grams"), 6).alias(
                "containment"
            ),
        )
        .orderBy("eval_id")
    )


# ----------------------------------------- bigram LM fluency score


@query
def q_lm_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Self-trained bigram LM fluency scores over the documents table
    (the CCNet-style perplexity-filtering signal, in log-free
    arithmetic-mean form for bit-exact cross-engine verification — see
    operators.text.bigram_lm_scores). Top 100 most-fluent docs with
    rounded scores; deterministic doc_id tiebreak."""
    from .artifacts import lm_bigram_probs
    from .operators.text import bigram_lm_scores

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return (
        bigram_lm_scores(docs, probs=lm_bigram_probs(spark, sf))
        .orderBy(F.col("lm_score").desc(), "doc_id")
        .limit(100)
    )


Q_LM_SCORES_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
p0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tt),
pairs AS (
  SELECT doc_id,
         t[CAST(i AS INTEGER)] AS w1,
         t[CAST(i AS INTEGER) + 1] AS w2
  FROM p0
),
uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM tt)
  GROUP BY 1
),
v AS (SELECT COUNT(*) AS vocab FROM uni),
big AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
scored AS (
  SELECT p.doc_id,
         CAST(SUM(CAST(CAST(b.c2 + 1 AS DOUBLE) / CAST(u.c1 + v.vocab AS DOUBLE)
                       AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
  FROM pairs p
  JOIN big b USING (w1, w2)
  JOIN uni u USING (w1)
  CROSS JOIN v
  GROUP BY p.doc_id
)
SELECT doc_id, ROUND(m, 9) AS lm_score
FROM scored
ORDER BY ROUND(m, 9) DESC, doc_id
LIMIT 100
"""


# ----------------------------------------- training-mix sampling

_MIX = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1}

_MIX_VALUES_SQL = ",".join(f"('{k}', {v})" for k, v in _MIX.items())


@query
def q_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-mix construction (exact variant): per
    language stratum, keep ceil(fraction·n) docs chosen by md5(doc_id)
    order — en 100%, de/fr 50%, es 25%, zh 10%. Reproducible across
    engines and partitionings, which is what makes a data mix a
    versionable artifact rather than an RNG accident; the oracle
    reproduces the row set exactly."""
    from .operators.sampling import stratified_sample

    docs = load_table(spark, sf, "documents")
    return (
        stratified_sample(docs, "lang", _MIX, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


Q_MIXTURE_SAMPLE_SQL = f"""
WITH f AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(lang, frac)),
r AS (
  SELECT d.doc_id, d.lang, f.frac,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM documents d JOIN f USING (lang)
)
SELECT doc_id, lang FROM r WHERE rn <= CEIL(n * frac)
ORDER BY lang, doc_id
"""


# same selection rule, two-phase plan — equality IS the point
@query(oracle=lambda: Q_MIXTURE_SAMPLE_SQL)
def q_mixture_sample_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """The two-phase bucketed exact mixture sampler
    (operators.sampling.stratified_sample_exact_scalable): identical
    selection to q_mixture_sample — same oracle SQL — but the sort
    shuffle partitions by (stratum, md5-prefix bucket), removing the
    one-partition-per-stratum skew that makes the simple exact variant
    wrong for a handful of huge strata at 100 TB."""
    from .operators.sampling import stratified_sample_exact_scalable

    docs = load_table(spark, sf, "documents")
    return (
        stratified_sample_exact_scalable(docs, "lang", _MIX, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def _mixture_partial(docs: DataFrame) -> DataFrame:
    """The hash-threshold picks of any subset of the documents — a
    per-row predicate, so stored partials merge by plain union."""
    from .operators.sampling import stratified_sample_hash

    return stratified_sample_hash(docs.select("doc_id", "lang"), "lang", _MIX, "doc_id")


def _mixture_finish(picked: DataFrame) -> DataFrame:
    return picked.select("doc_id", "lang").orderBy("lang", "doc_id")


@query
def q_mixture_sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-mix construction (shuffle-free 100-TB
    variant): keep a row iff the first 8 md5(doc_id) hex chars read as
    an int fall under fraction·2³² — a pure per-row predicate, zero
    shuffle, same row SET regardless of partitioning. Counts are
    binomially approximate; the selection rule is exact, which the
    oracle verifies row-for-row."""
    return _mixture_finish(_mixture_partial(load_table(spark, sf, "documents")))


# hex→int via the base-16 digit fold already proven portable by the
# md5-simhash oracle (no reliance on engine-specific hex casts)
Q_MIXTURE_SAMPLE_HASH_SQL = f"""
WITH f AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(lang, frac)),
h AS (
  SELECT doc_id, lang,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS bucket
  FROM documents
)
SELECT h.doc_id, h.lang
FROM h JOIN f USING (lang)
WHERE h.bucket < f.frac * 4294967296
ORDER BY lang, doc_id
"""
