"""Coverage wave 24 ([EXT]): iterative linear algebra, hybrid-search
fusion, experiment readout, graph motifs, temporal anomaly.

- ``q_power_iteration`` — top principal direction of the embedding
  corpus by three UNNORMALIZED power-iteration steps on the Gram
  matrix (w ← Xᵀ(Xw)), normalized once at the end. Power iteration is
  scale-invariant, so skipping the per-step normalization keeps every
  intermediate an exact engine-reproducible value (the per-dim sums
  ride the DECIMAL(38,6) contract; the dots are the same left-fold
  both engines already hash-match in the similarity stack). The
  embedding-whitening / drift-direction primitive.
- ``q_rrf_fusion`` — reciprocal-rank fusion of the BM25 and raw-TF
  rankings for the fixed query: score = Σ 1/(60 + rank) — the
  standard hybrid-search combiner (Cormack et al.), rational
  arithmetic end-to-end.
- ``q_ab_readout`` — the experiment decision artifact: per-arm
  conversion (md5-nibble assignment, q_ab_assign's rule), absolute /
  relative lift, and the pooled two-proportion z statistic
  (+,·,/,sqrt only).
- ``q_triangle_count`` — graph motifs on the nation trade graph
  (edges = customer-nation → supplier-nation pairs with above-P80
  lineitem weight): triangle count via the ordered three-way edge
  join, wedge count from degrees, global clustering coefficient
  3T/W.
- ``q_rolling_zscore`` — temporal anomaly gate: daily per-type value
  totals scored against the TRAILING 7-day window (excluding today),
  z from exact decimal partial sums in the FMA-safe subform; days
  with |z| > 2 reported.

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

_DIM = 64
_RRF_K = 60


# ------------------------------------------- power iteration


_POWER_ITERS = 12


@query
def q_power_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """64 rows: (dim, loading_r9) — the normalized top principal
    direction after 12 power steps from v₀ = e₀ (the synthetic
    embeddings' Gram spectrum is nearly flat — top-two ratio ≈ 1.07 —
    so convergence is ~0.93^k: 12 steps measured 0.90 alignment with
    numpy's eigenvector at sf0.001; a production corpus with a real
    dominant direction converges in 2-3).

    Each step is ONE pass over the corpus: dot(x, v) fuses into the
    scan projection (the similarity stack's left-fold ``_dot``), then
    posexplode + a 64-key hash agg builds the next w. The only
    driver traffic is the 64-float vector between steps (re-injected
    as literals — binary-exact). Each step normalizes ENGINE-SIDE:
    norm² is the exact decimal sum (identical on both engines), sqrt
    is IEEE-safe, and the division runs in-plan — never in Python,
    whose round() is banker's where the engines' decimal cast is
    half-up. Normalized iterates keep every product in the
    O(0.01-10) band where the DECIMAL(38,6) grain preserves ≥4
    significant digits AND sums stay far under the |sum|·10⁶ < 2⁵³
    single-rounding ceiling (NOTES rule 5), at every sf — the earlier
    power-of-two rescale variant measurably drowned the iterate in
    rounding noise at one sf or overflowed the ceiling at another.
    """
    from .operators.similarity import _dot

    emb = load_table(spark, sf, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )

    def step(v_list: list[float]) -> list[float]:
        lit_v = F.array(*[F.lit(float(x)) for x in v_list])
        w = (
            emb.select(_dot(F.col("v"), lit_v).alias("dot"), F.posexplode("v"))
            .groupBy("pos")
            .agg(F.sum(_dec(F.col("col") * F.col("dot"))).cast("double").alias("w"))
        )
        norm = w.agg(
            F.sqrt(F.sum(_dec(F.col("w") * F.col("w"))).cast("double")).alias("n")
        )
        rows = (
            w.crossJoin(F.broadcast(norm))
            .select("pos", (F.col("w") / F.col("n")).alias("wn"))
            .orderBy("pos")
            .collect()
        )
        return [r["wn"] for r in rows]

    v = [1.0] + [0.0] * (_DIM - 1)
    for _ in range(_POWER_ITERS):
        v = step(v)
    out = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(v)], "dim long, w double"
    )
    return out.select(
        "dim", F.round(F.col("w"), 9).alias("loading_r9")
    ).orderBy("dim")


def _power_iteration_sql(n_iters: int) -> str:
    """Unrolled power-iteration oracle: one (dot → per-dim decimal sum
    → norm → normalized list) CTE block per step, chained. Programmatic
    because the step count is a tuning knob shared with the Spark side
    (_POWER_ITERS)."""
    parts = [
        "WITH vecs AS MATERIALIZED (",
        "  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        "d1 AS (",
        "  SELECT vec_id, v, v[1] * 1.0 AS dot FROM vecs),",
    ]
    for k in range(1, n_iters + 1):
        parts += [
            f"w{k} AS MATERIALIZED (",
            "  SELECT u.i AS dim, CAST(SUM(CAST(u.x * dot AS DECIMAL(38,6))) AS DOUBLE) AS w",
            "  FROM (SELECT dot, unnest(list_transform(v, (x, i) -> struct_pack(i := i, x := x))) AS u",
            f"        FROM d{k})",
            "  GROUP BY 1),",
            f"n{k} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS n FROM w{k}),",
        ]
        if k < n_iters:
            parts += [
                f"w{k}l AS (SELECT list(w / (SELECT n FROM n{k}) ORDER BY dim) AS wl FROM w{k}),",
                f"d{k + 1} AS (",
                f"  SELECT vec_id, v, list_dot_product(v, (SELECT wl FROM w{k}l)) AS dot FROM vecs),",
            ]
    # drop the trailing comma of the final n-CTE
    parts[-1] = parts[-1].rstrip(",")
    parts += [
        "SELECT CAST(dim - 1 AS BIGINT) AS dim,",
        f"       ROUND(w / (SELECT n FROM n{n_iters}), 9) AS loading_r9",
        f"FROM w{n_iters} ORDER BY dim",
    ]
    return "\n".join(parts)


Q_POWER_ITERATION_SQL = _power_iteration_sql(_POWER_ITERS)


# ------------------------------------------- RRF hybrid fusion


@query
def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and raw-TF top-10s for the fixed
    query: rrf = Σ_lists 1/(60 + rank) — absent-from-list contributes
    nothing. Rational arithmetic; ranks come from the same totally-
    ordered windows as q_retrieval_agreement."""
    from .queries_ext19 import q_bm25_topk, BM25_QUERY_TERMS
    from .operators.text import tokenize

    bm25 = q_bm25_topk(spark, sf).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_r9").desc(), "doc_id"))
        .cast("long")
        .alias("rank"),
        F.lit("bm25").alias("src"),
    )
    docs = load_table(spark, sf, "documents")
    # top-k idiom (q_retrieval_agreement): orderBy().limit(10) plans
    # TakeOrderedAndProject (bounded per-partition heaps), so the
    # row_number window rides the 10-row result — never the full
    # matched-doc set. Same tiebreak ⇒ identical rows and ranks as the
    # rank<=10 post-filter spelling.
    tf_rank = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
            .cast("long")
            .alias("rank"),
            F.lit("tf").alias("src"),
        )
    )
    both = bm25.unionByName(tf_rank)
    return (
        both.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.round(
                F.sum(
                    F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank").cast("double"))
                ),
                9,
            ).alias("rrf_r9"),
        )
        .orderBy(F.col("rrf_r9").desc(), "doc_id")
        .limit(10)
    )


Q_RRF_FUSION_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS t
  FROM documents),
base AS (SELECT doc_id, t, len(t) AS dl FROM toked),
n AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base),
terms AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'window')
  GROUP BY 1, 2, 3),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         ((CAST((SELECT n_docs FROM n) AS DOUBLE) - df + 0.5) / (df + 0.5))
         * ((tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                         / ((SELECT sum_dl FROM n) / CAST((SELECT n_docs FROM n) AS DOUBLE)))))
         AS s
  FROM tf JOIN df ON tf.term = df.term),
bm25 AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 9) AS bm25_r9
  FROM scored GROUP BY doc_id ORDER BY bm25_r9 DESC, doc_id LIMIT 10),
bm25r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25_r9 DESC, doc_id) AS BIGINT) AS rank,
         'bm25' AS src
  FROM bm25),
tfsum AS (SELECT doc_id, SUM(tf) AS tf FROM tf GROUP BY 1),
tfr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS rank,
         'tf' AS src
  FROM tfsum QUALIFY rank <= 10),
lists AS (SELECT * FROM bm25r UNION ALL SELECT * FROM tfr)
SELECT doc_id, COUNT(*) AS n_lists,
       ROUND(SUM(1.0 / (60.0 + CAST(rank AS DOUBLE))), 9) AS rrf_r9
FROM lists GROUP BY doc_id
ORDER BY rrf_r9 DESC, doc_id LIMIT 10
"""


# ------------------------------------------- A/B readout


@query
def q_ab_readout(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment decision row: per-arm user-conversion (q_ab_assign's
    md5-nibble split), absolute and relative lift, pooled
    two-proportion z. One conditional aggregate; the statistic is a
    single IEEE expression over identical integer inputs."""
    ev = load_table(spark, sf, "events")
    nib = F.substring(
        F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 1
    )
    arm = F.when(
        nib.isin("0", "1", "2", "3", "4", "5", "6", "7"), "control"
    ).otherwise("treatment")
    per_user = (
        ev.withColumn("arm", arm)
        .groupBy("arm", "user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    c_ = arms.where(F.col("arm") == "control").select(
        F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    t_ = arms.where(F.col("arm") == "treatment").select(
        F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    j = c_.crossJoin(t_)
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (p1 - p0) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    # degenerate-arm guards: rel lift is undefined at p0=0 and z at
    # pooled p ∈ {0,1} — NULL in both engines rather than ANSI error
    # here / IEEE inf in the oracle.
    return j.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 9).alias("p_control_r9"),
        F.round(p1, 9).alias("p_treatment_r9"),
        F.round(p1 - p0, 9).alias("abs_lift_r9"),
        F.when(F.col("c0") > 0, F.round((p1 - p0) / p0, 9)).alias("rel_lift_r9"),
        F.when(
            (F.col("c0") + F.col("c1") > 0)
            & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1")),
            F.round(z, 9),
        ).alias("z_r9"),
    )


Q_AB_READOUT_SQL = """
WITH per_user AS (
  SELECT CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 'control'
         ELSE 'treatment' END AS arm,
         user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM per_user GROUP BY 1),
j AS (
  SELECT c0.n AS n0, c0.c AS c0, t1.n AS n1, t1.c AS c1
  FROM (SELECT n, c FROM arms WHERE arm = 'control') c0,
       (SELECT n, c FROM arms WHERE arm = 'treatment') t1)
SELECT n0, c0, n1, c1,
       ROUND(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS p_control_r9,
       ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS p_treatment_r9,
       ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS abs_lift_r9,
       CASE WHEN c0 > 0 THEN
         ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 9) END AS rel_lift_r9,
       CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
         ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 9) END AS z_r9
FROM j
"""


# ------------------------------------------- triangle count


@query
def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Graph motifs on the thresholded nation trade graph: undirected
    edges where the customer-nation ↔ supplier-nation lineitem weight
    reaches its 80th percentile. Triangles via the canonical ordered
    three-way edge join (a<b<c — each triangle counted once); wedges
    from degrees; global clustering = 3T/W. The edge build is the
    corpus-scale stage (the same co-keyed join as q_graph_rank); the
    motif joins run on the ≤|nations|² edge table."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    direct = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("a") < F.col("b"))
    )
    thr = direct.agg(F.expr("percentile(w, 0.8)")).first()[0]
    if thr is None:
        # empty graph: nothing to count
        return spark.createDataFrame(
            [],
            "n_nodes bigint, n_edges bigint, n_triangles bigint,"
            " n_wedges bigint, clustering_r9 double",
        )
    edges = direct.where(F.col("w") >= F.lit(float(thr))).select("a", "b")
    edges = edges.transform(materialize)
    n_edges = edges.count()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_nodes = deg.count()
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long")
    ).first()[0]
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .count()
    )
    cc = (3.0 * tri / wedges) if wedges else 0.0
    return spark.createDataFrame(
        [(n_nodes, n_edges, tri, wedges, round(cc, 9))],
        "n_nodes long, n_edges long, n_triangles long, n_wedges long, clustering_r9 double",
    )


Q_TRIANGLE_COUNT_SQL = """
WITH direct AS MATERIALIZED (
  SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
         GREATEST(c.c_nationkey, s.s_nationkey) AS b,
         COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
  HAVING LEAST(c.c_nationkey, s.s_nationkey) < GREATEST(c.c_nationkey, s.s_nationkey)),
thr AS (SELECT quantile_cont(w, 0.8) AS t FROM direct),
edges AS MATERIALIZED (
  SELECT a, b FROM direct, thr WHERE w >= t),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
  GROUP BY 1),
tri AS (
  SELECT COUNT(*) AS t
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
agg AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM edges) AS n_edges,
         (SELECT t FROM tri) AS n_triangles,
         (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       ROUND(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 9) AS clustering_r9
FROM agg
"""


# ------------------------------------------- rolling z-score


@query
def q_rolling_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal anomaly days: daily per-type value totals vs the
    TRAILING 7 days (excluding today); |z| > 2 reported. Exact
    decimal window sums, FMA-safe variance subform, degenerate
    windows filtered identically."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(_dec(F.col("value"))).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "day",
        F.col("x").cast("double").alias("xd"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("double").alias("s"),
        F.sum(_dec(F.col("x") * F.col("x"))).over(w).cast("double").alias("sxx"),
    ).where(F.col("n") == 7)
    nn = F.col("n").cast("double")
    var = (F.col("sxx") - F.col("s") * F.col("s") / nn) / (nn - F.lit(1.0))
    z = (F.col("xd") - F.col("s") / nn) / F.sqrt(var)
    return (
        win.where(var > 0)
        .select(
            "event_type",
            "day",
            F.round("xd", 6).alias("x_r6"),
            F.round(z, 9).alias("z_r9"),
        )
        .where(F.abs(F.col("z_r9")) > 2.0)
        .orderBy("event_type", "day")
    )


Q_ROLLING_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS x
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, day, CAST(x AS DOUBLE) AS xd,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
scored AS (
  SELECT event_type, day, xd, n, s, sxx,
         (sxx - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var
  FROM win WHERE n = 7)
SELECT event_type, day, ROUND(xd, 6) AS x_r6,
       ROUND((xd - s / CAST(n AS DOUBLE)) / sqrt(var), 9) AS z_r9
FROM scored
WHERE var > 0 AND ABS(ROUND((xd - s / CAST(n AS DOUBLE)) / sqrt(var), 9)) > 2.0
ORDER BY event_type, day
"""
