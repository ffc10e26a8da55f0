"""Wave 34 [EXT]: cheap verification twins for the heavy-oracle
queries (r11 verdict item 1 — "make heavy-oracle re-verification
routine, not a 100-minute event").

Fourteen registry names carry DuckDB oracles that are quadratic pair
rules or recursive reachability CTEs; at sf0.1 a full exact sweep of
them costs ~100 minutes (NOTES r11), so in practice it happened once
per round and staleness debt re-accumulated between sweeps. This
module registers, for every such name, a ``<name>_sub`` twin that runs
the IDENTICAL engine code path and the IDENTICAL oracle SQL on a
deterministic md5-selected quarter of the corpus:

- engine side: the original query callable, pointed at a cached
  sampled twin of the sf directory (documents and embeddings filtered
  to ``substring(md5(id), 1, 1) IN ('0'..'3')`` — the repo's standard
  engine-portable membership rule, q_train_split's; every other table
  symlinked through). Zero drift by construction: the twin IS the
  original function, so any operator change is exercised end-to-end.
- oracle side: the original SQL with its ``documents``/``embeddings``
  references rewritten to MATERIALIZED sub-corpus CTEs carrying the
  same predicate. A quadratic pair rule on a 1/4 corpus costs ~1/16
  of the exact form; recursive closures shrink likewise.

The full-exact names STAY registered — the twins make the routine
sweep cheap (tools/check_oracle.py --routine skips the heavy exact
names, whose surface the twins cover), while the exact forms remain
for the per-round deep sweep. Both ids (doc_id and vec_id) share the
0..N-1 space in the testdata, so document and embedding sampling are
membership-consistent and cross-table joins inside the originals
(e.g. q_cluster_representatives) survive sampling intact.

Reference parity: verification harness economics, [EXT] — the
reference (bpi_crawler.py) has no test oracles at all.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query
from .session import scratch_dir

# the heavy-exact registry names (NOTES r11's 14): quadratic pair
# oracles and recursive-CTE closures. tools/check_oracle.py --routine
# skips exactly these, relying on their _sub twins.
HEAVY_EXACT: tuple[str, ...] = (
    "q_minhash_pairs",
    "q_minhash_exact",
    "q_minhash_dupheavy",
    "q_ngram_jaccard",
    "q_ngram_overlap",
    "q_stream_dedup",
    "q_winnow_dedup",
    "q_curation_pipeline_v2",
    "q_semantic_dedup",
    "q_cross_dedup",
    "q_dedup_provenance",
    "q_bfs_hops",
    "q_dedup_rate_by_source",
    "q_embedding_clusters",
    "q_cluster_representatives",
)

_SUB_NIBBLES = ("0", "1", "2", "3")  # 4/16 of md5's first hex digit
# Per-name nibble overrides for twins whose EXACT form already runs on
# the md5 quarter (the generic quarter twin would reproduce it at full
# cost): their _sub runs on a 1/16 corpus instead — the query's own
# quarter predicate is a superset of the twin nibble, so engine and
# oracle stay membership-consistent (r14, the q_minhash_dupheavy rule).
_TWIN_NIBBLES: dict[str, tuple[str, ...]] = {
    "q_minhash_dupheavy": ("0",),
}
_SUB_DIRS: dict[tuple[str, tuple[str, ...]], str] = {}
_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def sampled_sf_dir(
    spark: SparkSession, sf: str, nibbles: tuple[str, ...] = _SUB_NIBBLES
) -> str:
    """A cached (per process+sf+nibbles) twin of ``sf`` whose documents
    and embeddings tables are filtered to the deterministic md5
    ``nibbles`` subset (default: the standard quarter); every other
    table is a symlink to the original. The artifact store keys by
    directory, so the twin corpus gets its own (sub-sized) signature
    artifacts — exactly what a distinct corpus should."""
    key = (os.path.abspath(sf), tuple(nibbles))
    cached = _SUB_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    d = scratch_dir("sub_corpus_")
    for tbl, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        nib = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
        load_table(spark, sf, tbl).where(nib.isin(*nibbles)).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"{tbl}.parquet"))
    for tbl in _TABLES:
        if tbl in ("documents", "embeddings"):
            continue
        src = os.path.join(key[0], f"{tbl}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{tbl}.parquet"))
    _SUB_DIRS[key] = d
    return d


def _twin_fn(
    base_fn: Callable[[SparkSession, str], DataFrame],
    nibbles: tuple[str, ...] = _SUB_NIBBLES,
) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf: str) -> DataFrame:
        return base_fn(spark, sampled_sf_dir(spark, sf, nibbles))

    return fn


def _nib_pred(id_col: str, nibbles: tuple[str, ...]) -> str:
    lst = ",".join(f"'{n}'" for n in nibbles)
    return (
        f"substring(md5(CAST({id_col} AS VARCHAR)), 1, 1) IN ({lst})"
    )


def sub_oracle_sql(sql: str, nibbles: tuple[str, ...] = _SUB_NIBBLES) -> str:
    """The original oracle with its base-table references rewritten to
    the sampled sub-corpus: ``documents``/``embeddings`` become
    MATERIALIZED CTEs carrying the md5 predicate (MATERIALIZED so a
    recursive consumer can't re-inline the parquet scan per iteration
    — the repo's standing DuckDB-recursion rule). The original must
    start with WITH; every heavy oracle does."""
    body = re.sub(r"\bdocuments\b", "__docs_sub", sql)
    body = re.sub(r"\bembeddings\b", "__embs_sub", body)
    m = re.match(r"(?is)^\s*WITH(\s+RECURSIVE)?", body)
    if m is None:  # pragma: no cover - guarded by the heavy list audit
        raise ValueError("heavy oracle does not start with WITH")
    head = "WITH RECURSIVE" if m.group(1) else "WITH"
    doc_pred = _nib_pred("doc_id", nibbles)
    vec_pred = _nib_pred("vec_id", nibbles)
    return (
        f"{head}\n"
        f"__docs_sub AS MATERIALIZED (SELECT * FROM documents WHERE {doc_pred}),\n"
        f"__embs_sub AS MATERIALIZED (SELECT * FROM embeddings WHERE {vec_pred}),"
        + body[m.end() :]
    )


def make_verification_twins(
    queries: dict[str, Callable[[SparkSession, str], DataFrame]],
    oracles: dict[str, str],
) -> tuple[dict, dict]:
    """(twin queries, twin oracles) for every HEAVY_EXACT name present
    in the registry. Called by queries.py AFTER all waves register, so
    the twins wrap the final callables. Names in ``_TWIN_NIBBLES`` get
    a tighter md5 subset than the standard quarter (their exact form
    already runs on the quarter, so the generic twin would cost the
    same as the exact)."""
    tq: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    to: dict[str, str] = {}
    for name in HEAVY_EXACT:
        nibs = _TWIN_NIBBLES.get(name, _SUB_NIBBLES)
        tq[f"{name}_sub"] = _twin_fn(queries[name], nibs)
        to[f"{name}_sub"] = sub_oracle_sql(oracles[name], nibs)
    return tq, to


# ------------------------------------------- dup-heavy pair hardening


@query
def q_simhash_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash pair extraction on a DUP-HEAVY corpus (r11 verdict item
    5): every document deterministically replicated 20× (new id =
    doc_id·20 + rep), so identical-fingerprint groups have ≥20 members
    and the within-group C(m,2)·C(blocks,d) stream — untested at the
    94%-distinct base corpus — dominates. ``strategy="auto"`` must
    measure the group stats and pick the distinct-fingerprint banding
    path (pinned by tests/test_wave34.py); the oracle reproduces the
    full pair mass arithmetically from the per-original fingerprints
    (replica expansion is pure algebra), pinning per-hamming pair
    counts AND id-sum checksums — content, not counts."""
    from .operators.dedup import simhash_md5_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    # in-row replication (explode of a 20-element sequence): no join,
    # no cartesian — the replicated corpus is one projection
    dup = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("_r"),
        "doc_id",
        "text",
    ).select((F.col("doc_id") * 20 + F.col("_r")).alias("doc_id"), "text")
    pairs = simhash_md5_pairs(dup, strategy="auto")
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("hamming")
    )


def _dupheavy_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return rf"""
WITH shtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents),
simtok AS (SELECT doc_id, unnest(t) AS t FROM shtoks),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM simtok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fpt AS (SELECT doc_id, {fp} AS simhash32 FROM votes),
-- replica algebra: original o expands to ids 20o..20o+19, so a group
-- of k originals has m = 20k members with id sum 400*Σo + 190k
grp AS (
  SELECT simhash32 AS f, 20 * COUNT(*) AS m,
         400 * SUM(doc_id) + 190 * COUNT(*) AS s
  FROM fpt GROUP BY 1),
within AS (
  SELECT 0 AS hamming, (m * (m - 1)) // 2 AS n, (m - 1) * s AS ids
  FROM grp WHERE m >= 2),
cross_g AS (
  SELECT bit_count(xor(a.f, b.f)) AS hamming,
         a.m * b.m AS n, b.m * a.s + a.m * b.s AS ids
  FROM grp a JOIN grp b ON a.f < b.f
  WHERE bit_count(xor(a.f, b.f)) <= 3),
allp AS (SELECT * FROM within UNION ALL SELECT * FROM cross_g)
SELECT CAST(hamming AS INTEGER) AS hamming,
       CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(ids) AS BIGINT) AS id_sum
FROM allp GROUP BY 1 ORDER BY 1
"""


Q_SIMHASH_DUPHEAVY_SQL = _dupheavy_oracle()


_MH_R = 12  # replica multiplicity of the minhash dup-heavy corpus


@query
def q_minhash_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH pair extraction on a NEAR-dup-heavy corpus (r13,
    the minhash complement of q_simhash_dupheavy): each md5-quarter
    document replicated 12× with a doc-specific and a replica-specific
    marker token appended, so every replica is globally-unique text
    (exact_dedup, the exact-replica contract's stage, collapses
    nothing) yet clusters sit at Jaccard c/(c+2) ≈ 0.82-0.98 — the
    regime where the band self-join re-emits each cluster pair once
    per agreeing band. The signature tables are materialized and
    passed in (the warehouse shape), so ``strategy="auto"`` measures
    the band-bucket group stats and must pick the firstband path
    (pinned by tests/test_wave35.py).

    Oracle: appending tokens factors each replica's shingle set as
    C_d ∪ {B_dr} with C_d replica-independent and B_dr globally
    unique, so within-cluster Jaccard is c_d/(c_d+2) and a cross pair
    (d1,d2) has one Jaccard shared by all 12² replica pairs — DuckDB
    reproduces the full pair mass from a quadratic over ORIGINALS
    only (the replica expansion is pure algebra), pinning per-Jaccard
    pair counts and id-sum checksums. Banding is 64 hashes × 32 bands
    (rows_per_band=2): the lowest Jaccard the threshold admits (0.7)
    misses a band with p=1-0.7², all 32 with 4e-10 — recall is exact
    at every tested scale."""
    from .operators.dedup import (
        minhash_lsh_pairs,
        minhash_min_cols,
        with_shingles,
    )

    R = _MH_R
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sub = docs.where(nib.isin(*_SUB_NIBBLES))
    dup = sub.selectExpr(
        f"explode(sequence(0, {R - 1})) as _r", "doc_id", "text"
    ).selectExpr(
        f"doc_id * {R} + _r as doc_id",
        "concat(text, ' x', cast(doc_id as string), 'y z',"
        " cast(_r as string), 'w') as text",
    )
    base = with_shingles(dup, "doc_id", "text", 3).persist()
    mins = minhash_min_cols(base, "doc_id", 64, 42).persist()
    try:
        pairs = minhash_lsh_pairs(
            dup,
            threshold=0.7,
            num_hashes=64,
            bands=32,
            base=base,
            mins=mins,
            strategy="auto",
        )
    finally:
        # pairs is eagerly materialized by the operator (base/mins
        # are caller-owned), so the signature caches release here
        mins.unpersist()
        base.unpersist()
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, "jaccard")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "jaccard")
    )


def _mh_dupheavy_oracle(r: int = _MH_R) -> str:
    # Σ_{i<j<R}(i+j) and the per-pair id algebra (id = doc_id·R + rep)
    c2 = r * (r - 1) // 2
    within_ids = f"{c2 * 2 * r} * doc_id + {(r - 1) * c2}"
    cross_ids = f"{r * r * r} * (a.doc_id + b.doc_id) + {r * r * (r - 1)}"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
),
aug AS (
  SELECT doc_id, list_append(t, 'x' || CAST(doc_id AS VARCHAR) || 'y') AS t1
  FROM toks
),
cset AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t1) - 1),
             i -> t1[i] || ' ' || t1[i+1] || ' ' || t1[i+2])) AS c
  FROM aug
),
within AS (
  SELECT TRUE AS within,
         CAST(len(c) AS DOUBLE) / (len(c) + 2) AS jaccard,
         CAST({c2} AS BIGINT) AS n,
         CAST({within_ids} AS BIGINT) AS ids
  FROM cset
  WHERE CAST(len(c) AS DOUBLE) / (len(c) + 2) >= 0.7
),
cross_p AS (
  SELECT FALSE AS within,
         CAST(len(list_intersect(a.c, b.c)) AS DOUBLE)
           / (len(a.c) + len(b.c) - len(list_intersect(a.c, b.c)) + 2) AS jaccard,
         CAST({r * r} AS BIGINT) AS n,
         CAST({cross_ids} AS BIGINT) AS ids
  FROM cset a JOIN cset b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.c, b.c)) AS DOUBLE)
          / (len(a.c) + len(b.c) - len(list_intersect(a.c, b.c)) + 2) >= 0.7
),
allp AS (SELECT * FROM within UNION ALL SELECT * FROM cross_p)
SELECT within, jaccard,
       CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(ids) AS BIGINT) AS id_sum
FROM allp GROUP BY 1, 2 ORDER BY 1, 2
"""


Q_MINHASH_DUPHEAVY_SQL = _mh_dupheavy_oracle()
