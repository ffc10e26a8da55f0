"""Deduplication operators ([EXT], SURVEY.md §2.11) for the
training-data-pipeline surface, over ``documents(doc_id, text, ...)``.

All four families (exact, MinHash+LSH, SimHash, n-gram Jaccard verify)
are pure DataFrame ops — no Python UDFs — so they shuffle exactly where
the algorithm requires (the LSH band groupBy / pair join) and nowhere
else, and stay inside whole-stage codegen at 100 TB.

Design choices for scale:
- Signatures are computed in one projection over the scan (arrays +
  higher-order functions), so the only shuffles are the band-bucket
  self-join and the final anti-join.
- Candidate generation is LSH-blocked: pairs are only formed within a
  band bucket, never across the full corpus (no O(n²) crossJoin).
- The dedup *decision* is the standard greedy keep-min-id rule: a doc is
  dropped iff it verifies as a near-dup of a smaller-id doc. This is a
  single anti-join, deterministic, and avoids iterative connected
  components (which needs a fixpoint loop; planned as a later round's
  graph extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import materialize as _eager_materialize
from ..session import scoped_conf

# 31-bit Mersenne prime modulus of the MinHash double hash; 31-bit
# minhash values are ample for Jaccard estimation (collision prob 2^-31
# per function). Overflow bound: see _check_num_hashes.
_MERSENNE_P = (1 << 31) - 1
_MAX_HASHES = 1 << 32
# The minhash builders construct their double-hash expressions with ANSI
# off: Catalyst fixes each Add/Multiply's eval mode when the expression
# is analysed, so the plan keeps unchecked long arithmetic after the
# conf is restored, and the rest of the session stays ANSI.
_UNCHECKED = {"spark.sql.ansi.enabled": "false"}


def _check_num_hashes(num_hashes: int) -> None:
    """Driver-side overflow check for the Kirsch-Mitzenmacher double
    hash h_i = (h1 + i·h2) mod p, i < num_hashes. h1 lies in [0, p) and
    h2 in [1, p − 1] with p = 2^31 − 1, so h1 + i·h2 < num_hashes·2^31,
    which is below 2^63 for every num_hashes ≤ 2^32. Within that bound
    the long arithmetic provably cannot overflow, so the builders drop
    ANSI's per-operation overflow checks (Math.addExact/multiplyExact
    behind a closure and a boxed Long per operation) and check once here
    instead."""
    if not 1 <= num_hashes <= _MAX_HASHES:
        raise ValueError(
            f"num_hashes must be in [1, 2**32] so the double hash cannot"
            f" overflow a long; got {num_hashes}"
        )


def _kth_hash_sql(i: int, h1: str, h2: str) -> str:
    """SQL for the i-th MinHash function (h1 + i·h2) mod p over the
    long columns (or lambda variables) ``h1``/``h2`` — the one
    definition both signature builders evaluate."""
    return f"pmod({h1} + {i} * {h2}, {_MERSENNE_P})"


def check_precomputed_params(df: DataFrame, expected: dict, op: str) -> None:
    """Verify a precomputed signature/posting table was built with the
    parameters this operator call assumes. artifacts.py stamps build
    parameters as ``artifact_params`` column metadata; a stamped table
    whose params disagree with the call's arguments raises here instead
    of silently producing wrong results (e.g. the artifact store's
    k=8/w=8 winnowing sketch fed to a winnowing_pairs(k=6) call).
    Caller-built tables without a stamp skip the check — they are the
    caller's contract. Only keys present in BOTH dicts are compared,
    so stamps may carry extra provenance fields.

    Derived tables (r11 ADVICE): column metadata propagates through
    select/groupBy, so a table the caller legitimately DERIVED from a
    stamped artifact (e.g. minima built via ``minhash_min_cols`` from
    the stamped minhash_base) arrives carrying the UPSTREAM artifact's
    name. An ``artifact``-name mismatch therefore means "derived
    input", not "wrong table": the name itself is not compared in that
    case, but every SHARED parameter key still is (a base built with
    shingle_k=4 fed to a shingle_k=3 call fails loudly either way).
    Every stamped field is checked, not just the first — a frame
    carrying two stamps (e.g. after joining two artifact tables) has
    both verified."""
    for field in df.schema.fields:
        params = (field.metadata or {}).get("artifact_params")
        if params is None:
            continue
        derived = (
            "artifact" in expected
            and "artifact" in params
            and params["artifact"] != expected["artifact"]
        )
        bad = {
            key: (params[key], val)
            for key, val in expected.items()
            if key in params
            and params[key] != val
            and not (derived and key == "artifact")
        }
        if bad:
            detail = ", ".join(
                f"{key}: artifact has {have!r}, call expects {want!r}"
                for key, (have, want) in bad.items()
            )
            raise ValueError(
                f"{op}: precomputed table parameter mismatch — {detail}"
            )


def _gate_corpus_size(df: DataFrame, cap: int | None, op: str, scale_alt: str) -> None:
    """Refuse an explicitly-quadratic baseline above ``cap`` rows.

    The probe is ``limit(cap+1).count()`` — bounded work regardless of
    corpus size (Spark stops feeding partitions once the limit is
    hit), so the gate itself can't become the scan it guards against.
    """
    if cap is None:
        return
    if df.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{op} is a quadratic-within-block baseline and is capped at "
            f"{cap} rows; use {scale_alt} at this scale, or pass the cap "
            "override explicitly after sizing the blocks"
        )


TOKEN_SPLIT_ASCII = r"[^a-z0-9]+"  # fast path (no unicode property tables)
TOKEN_SPLIT_UNICODE = r"[^\p{L}\p{N}]+"  # full unicode letters/digits


def tokens_col(col: Column | str, split_pattern: str = TOKEN_SPLIT_ASCII) -> Column:
    """Normalized word tokens: lower, split on any non-alphanumeric run
    (single regex pass — normalization and tokenization fused). The
    ASCII default is ~5× faster in codegen; pass TOKEN_SPLIT_UNICODE
    for multilingual corpora."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), split_pattern), lambda t: t != "")


def _shingles_from_hashes(th: Column, k: int) -> Column:
    """k-shingle hashes from a *materialized* token-hash array column.

    IMPORTANT: ``th`` must be a plain column reference (stage the
    token-hash transform in its own projection first). Passing the
    transform expression directly re-evaluates the full tokenization
    once per F.get reference — O(n²) per document."""

    def _shingle_hash(i: Column) -> Column:
        return F.xxhash64(*[F.get(th, i + F.lit(j)) for j in range(k)])

    return F.array_distinct(
        F.when(
            F.size(th) >= k,
            F.transform(F.sequence(F.lit(0), F.size(th) - k), _shingle_hash),
        ).otherwise(F.array(F.xxhash64(th)))
    )


def with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, *keep_cols, _shingles array<long>): distinct k-word shingles
    as 64-bit hashes. Tokens are hashed once per row (staged
    projection), then each shingle hash combines k consecutive token
    hashes with one more xxhash64 — pure long arithmetic, zero
    per-shingle string allocation (a string-concat formulation measured
    ~10× slower). Set semantics (Jaccard, MinHash) hold up to 64-bit
    collisions. Docs shorter than k tokens get a single whole-doc hash
    so they never vanish. ``keep_cols`` rides along in the same
    projection (no join needed to re-attach blocking keys)."""
    hashed = df.select(
        F.col(id_col),
        *(keep_cols or []),
        F.transform(tokens_col(text_col), lambda t: F.xxhash64(t)).alias("_th"),
    )
    return hashed.select(
        id_col,
        *(keep_cols or []),
        _shingles_from_hashes(F.col("_th"), k).alias("_shingles"),
    )


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Exact dedup, keep the row with the smallest ``order_col`` per key
    group — deterministic (unlike dropDuplicates' keep-arbitrary), one
    hash shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, _shingles, _minhash array<long> of length ``num_hashes``).

    The per-row signature builder: right for streaming micro-batches
    (zero shuffle, signs each batch in place — streaming/dedup_stream)
    and for anything that needs the signature as one array column. For
    corpus-wide pair generation prefer :func:`minhash_min_cols` — same
    values bit-for-bit, but the minima run as codegen'd aggregates
    instead of ``num_hashes`` interpreted HOF passes (measured 1.7×).

    Scale shape: entirely per-row, zero shuffles — embarrassingly
    parallel over the corpus. Each stage is its own projection so the
    expensive arrays materialize once per row (Catalyst's
    CollapseProject would otherwise inline a multiply-referenced
    expression into every use):

      tokens → shingle hashes → (h1, h2) arrays →
      minhash_i = array_min(zip_with(h1, h2, (a,b) → a + i·b mod p))

    Kirsch-Mitzenmacher double hashing gives ``num_hashes`` functions
    from two xxhash64 evaluations per shingle. (Two rejected designs,
    both measured 20-30× slower: a single giant expression — HOF
    lambdas re-evaluate captured subtrees per reference — and
    explode + 64-column min-aggregate — Generate re-evaluates its
    child, plus a needless shuffle.)

    Overflow: a + i·b < num_hashes·2^31 ≤ 2^63 for ``num_hashes`` in
    [1, 2^32] (checked on the driver, ValueError otherwise), so the
    hash projections are built with ANSI off and run as unchecked long
    arithmetic; see :func:`_check_num_hashes`.
    """
    _check_num_hashes(num_hashes)
    p = F.lit(_MERSENNE_P)
    base = with_shingles(df, id_col, text_col, shingle_k)
    with scoped_conf(base.sparkSession, **_UNCHECKED):
        hashed = base.select(
            id_col,
            "_shingles",
            F.transform("_shingles", lambda s: F.pmod(F.xxhash64(s), p)).alias("_H1"),
            F.transform(
                "_shingles", lambda s: F.pmod(F.xxhash64(s, F.lit(seed)), p - 1) + 1
            ).alias("_H2"),
        )
        # one F.expr per hash function (the Column-API zip_with lambda
        # cost ~6 py4j round-trips each; this path builds per STREAMING
        # BATCH, so construction time is recurring, not one-off)
        return hashed.select(
            id_col,
            "_shingles",
            F.array(
                *[
                    F.expr(
                        f"array_min(zip_with(_H1, _H2,"
                        f" (a, b) -> {_kth_hash_sql(i, 'a', 'b')}))"
                    )
                    for i in range(num_hashes)
                ]
            ).alias("_minhash"),
        )


def minhash_min_cols(
    base: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    seed: int = 42,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, *keep_cols, _m0.._m{n-1}): the MinHash minima as ``num_hashes``
    plain long columns, from a with_shingles() base table.

    This is the corpus-wide signature builder the pair operators use —
    the per-row HOF form (:func:`minhash_signatures`) evaluates
    ``num_hashes`` interpreted zip_with/array_min passes per document
    (higher-order functions are codegen fallbacks), measured 1.7×
    slower at sf0.1. Here the shingles explode into (id, h1, h2) rows
    and ``num_hashes`` F.min aggregates run inside whole-stage codegen
    with map-side partial aggregation, so the shuffle carries only
    |docs| × num_hashes longs — never the exploded postings. Values
    are bit-identical to minhash_signatures (same Kirsch-Mitzenmacher
    double hash h_i = (h1 + i·h2) mod p; pinned against both and a
    pure-Python reference by
    tests/test_properties.py::test_minhash_builders_match_reference).

    Overflow: h1 + i·h2 < num_hashes·2^31 ≤ 2^63 for ``num_hashes`` in
    [1, 2^32] (checked on the driver, ValueError otherwise), so the
    explode projection and the minima aggregates are built with ANSI
    off. Under ANSI every long + and * is Math.addExact/multiplyExact
    behind a closure returning a boxed Long — two allocations per
    operation, which a JIT without escape analysis (C1) does not
    remove; built unchecked, the minhash_mins artifact rebuild took
    about half the CPU under C1 with the minima byte-equal. See
    :func:`_check_num_hashes`.

    ``base`` MUST be materialized (persisted/stored) first: exploding a
    freshly-built shingle expression re-evaluates the array build per
    output row (the Generate trap, see NOTES). ``keep_cols`` (e.g. a
    lang blocking key, a set-size prune column) ride through the
    grouping key — they are functionally dependent on the id, so the
    aggregate's cardinality is unchanged."""
    _check_num_hashes(num_hashes)
    p = F.lit(_MERSENNE_P)
    keep = list(keep_cols or [])
    with scoped_conf(base.sparkSession, **_UNCHECKED):
        ex = base.select(id_col, *keep, F.explode("_shingles").alias("_s")).select(
            id_col,
            *keep,
            F.pmod(F.xxhash64("_s"), p).alias("_h1"),
            (F.pmod(F.xxhash64("_s", F.lit(seed)), p - 1) + 1).alias("_h2"),
        )
        # expr strings: one py4j round-trip per aggregate instead of ~5
        # (construction time, ~0.6s/call at 64 hashes, is part of query
        # latency in serving paths)
        return ex.groupBy(id_col, *keep).agg(
            *[
                F.expr(f"min({_kth_hash_sql(i, '_h1', '_h2')})").alias(f"_m{i}")
                for i in range(num_hashes)
            ]
        )


def _band_bucket_sql(num_hashes: int, bands: int) -> list[str]:
    """Per-band bucket expressions (SQL strings) over minhash_min_cols
    columns — ONE definition shared by every banding builder so bucket
    values stay bit-compatible across the plain postings table, the
    firstband band-vector path and the stored streaming index."""
    rows_per_band = num_hashes // bands
    return [
        "xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(_m{b * rows_per_band + j} as string)"
            for j in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    ]


def band_buckets_from_cols(
    mins: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """LSH band postings (_id, *keep_cols, band, bucket) from a
    :func:`minhash_min_cols` table. Bucket values are bit-compatible
    with :func:`band_buckets` (same concat_ws(",") → xxhash64 of the
    band's minima as strings), so postings from either builder join
    against the same stored index (streaming/dedup_stream.py). No
    array materialization: each band's bucket hashes ``rows_per_band``
    plain columns directly, and the exploded structs are cheap scalar
    expressions (no Generate-trap exposure)."""
    keep = list(keep_cols or [])
    structs = ", ".join(
        f"struct({b} as band, {bucket} as bucket)"
        for b, bucket in enumerate(_band_bucket_sql(num_hashes, bands))
    )
    banded = mins.select(
        F.col(id_col).alias("_id"),
        *keep,
        F.expr(f"explode(array({structs}))").alias("bb"),
    )
    return banded.select(
        *[c for c in banded.columns if c != "bb"], "bb.band", "bb.bucket"
    )


def band_buckets(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    keep_cols: list[Column | str] | None = None,
) -> DataFrame:
    """LSH band postings (_id, band, bucket) from a signature table:
    each signature slices into ``bands`` rows-per-band groups, each
    group hashing to one 64-bit bucket. ``sig`` must be a materialized
    (persisted or stored) table — exploding over a freshly-built
    ``_minhash`` expression re-evaluates the signature build per output
    row (the Generate trap). The postings table IS the incremental LSH
    index: appended to a store, new batches join it directly without
    re-banding history (streaming/dedup_stream.py)."""
    rows_per_band = num_hashes // bands
    keep = list(keep_cols or [])
    banded = sig.select(
        F.col(id_col).alias("_id"),
        *keep,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("_minhash", b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    )
    return banded.select(
        *[c for c in banded.columns if c != "bb"], "bb.band", "bb.bucket"
    )


def _band_vectors(
    mins: DataFrame, id_col: str, num_hashes: int, bands: int, out_id: str
) -> DataFrame:
    """(out_id, _bv, band, bucket): band postings carrying the full
    band-bucket vector — the firstband strategies' join input. Bucket
    values are bit-compatible with band_buckets_from_cols (same
    _band_bucket_sql expressions; the vector element IS the bucket)."""
    buckets = _band_bucket_sql(num_hashes, bands)
    vec = mins.select(
        F.col(id_col).alias(out_id),
        F.expr("array(" + ", ".join(buckets) + ")").alias("_bv"),
    )
    return vec.select(out_id, "_bv", F.posexplode("_bv").alias("band", "bucket"))


def _first_match_band(bands: int, a: str, b: str) -> Column:
    """The canonical (first matching) band of two band-bucket vectors,
    as one codegen when-chain — a joined pair is kept only where
    ``band == canonical``, emitting it exactly once with no dedup
    shuffle (the join band always matches, so canonical ≤ band and
    every true candidate survives somewhere)."""
    return F.expr(
        "case "
        + " ".join(
            f"when element_at({a}, {i + 1}) = element_at({b}, {i + 1}) then {i}"
            for i in range(bands)
        )
        + " end"
    )


def minhash_band_stats(
    mins: DataFrame, id_col: str, num_hashes: int, bands: int
) -> dict:
    """Measured band-bucket group statistics of a minhash_min_cols
    table: ``mh_n`` documents and ``mh_band_pdup`` = Σ over every
    (band, bucket) group of C(m, 2) — the EXACT row count the LSH band
    self-join streams before pair dedup, i.e. the candidate
    multiplicity a dup-heavy corpus blows up. One two-level aggregation
    (map-side combinable both levels); the artifact store stamps the
    result at build (artifacts.minhash_mins) so
    ``minhash_lsh_pairs(strategy="auto")`` reads it for free. The
    stats are banding-specific, so the stamp records the banding they
    were measured under (``mh_stats_*``) and auto falls back to
    measuring when a caller bands differently."""
    banded = band_buckets_from_cols(mins, id_col, num_hashes, bands)
    g = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_m"))
    row = g.agg(
        F.coalesce(F.sum("_m"), F.lit(0)).alias("n_rows"),
        F.coalesce(
            F.sum(F.expr("CAST(_m * (_m - 1) AS BIGINT) div 2")), F.lit(0)
        ).alias("pdup"),
    ).first()
    return {
        "mh_n": int(row["n_rows"]) // bands,
        "mh_band_pdup": int(row["pdup"]),
        "mh_stats_num_hashes": num_hashes,
        "mh_stats_bands": bands,
    }


def pick_minhash_strategy(mh_n: int, mh_band_pdup: int, bands: int) -> str:
    """The per-corpus plain-vs-firstband decision for
    ``minhash_lsh_pairs``, on measured band-bucket group stats.

    The plain path shuffles every band-join output row — ``bands`` ×
    the true pair set on near-dup-heavy corpora, since a cluster whose
    members agree in most bands re-emits each pair once per agreeing
    band — through a dropDuplicates exchange. The firstband path emits
    each pair exactly once with NO dedup exchange, but carries both
    sides' full band-bucket vectors (``bands`` longs) through the band
    join, fattening a 2·n·bands-row shuffle. Crossover pinned from
    both measured sf0.1 regimes (see SCALING.md): the testdata corpus
    has band_pdup ≈ 0.05·n·bands (plain measured faster, 0.64 vs
    0.80 s on the stored artifact — the fat vectors cost more than the
    trivial dedup they save), a 16×-replica near-dup corpus ≈
    7·n·bands (firstband measured faster, 7.9 vs 10.7 s warm at 80k
    docs, and the gap widens with cluster multiplicity: the saved
    shuffle grows with pair mass, the vector payload only with corpus
    size)."""
    return "firstband" if mh_band_pdup > mh_n * bands else "plain"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    materialize: bool = True,
    base: DataFrame | None = None,
    mins: DataFrame | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate candidate pairs verified by exact shingle Jaccard.

    signature → band hashes → explode(bands) → self-join per
    (band, band_hash) bucket → distinct candidate pairs → verify
    with exact Jaccard on the shingle sets. Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Only (id, band, bucket) rows flow through the LSH self-join —
    the (large) shingle arrays are joined in exclusively for the
    candidate pairs that survive banding, so the heavy shuffle is
    proportional to the candidate set, not candidates × shingle size.

    Dup-heavy corpora contract (r12): EXACT-duplicate documents have
    identical signatures, so a group of m exact replicas rides the
    band join as C(m,2) × bands rows before the pair distinct — run
    ``exact_dedup`` FIRST on corpora with exact-replica mass (the
    curation pipelines already order their stages this way); MinHash
    is the NEAR-dup stage. The simhash family got an in-operator
    distinct-fp strategy (``simhash_md5_pairs``) because a 32-bit
    fingerprint collides across genuinely-different docs, which
    exact_dedup cannot collapse.

    ``strategy`` (r13): NEAR-dup-heavy corpora — clusters of high-but-
    not-exact similarity that exact_dedup cannot collapse — re-emit
    each cluster pair once per AGREEING band (up to ``bands``×), and
    that whole multiplicity rides the plain path's dropDuplicates
    exchange. ``"firstband"`` carries both sides' band-bucket vectors
    through the band join and keeps each pair only at its first
    matching band: exactly-once emission, zero dedup shuffle, at the
    cost of ``bands`` longs of payload per band-join row. ``"plain"``
    is the thin-payload form — right when candidates are rare.
    ``"auto"`` (default) decides per corpus on measured band-bucket
    group stats: free from the artifact stamp when ``mins`` is the
    store's table banded the way the stats were measured; one cheap
    aggregation on an unstamped caller table (an EAGER action); plain
    for locally-built signatures (measuring would run the build
    twice). Both strategies emit the identical verified pair set
    (a pair's canonical band always joins — its bucket IS the vector
    element the filter compares).

    With ``materialize=True`` (default) the pair set is computed
    eagerly (localCheckpoint) so the signature cache — which pins the
    shingle+minhash arrays in executor memory — is released before
    returning; the small pair result replaces the large cached input.
    Pass ``materialize=False`` to keep the plan lazy (e.g. for plan
    inspection), in which case the caller owns the signature cache for
    the session's lifetime. At warehouse scale, write signatures to a
    parquet/Delta table instead of caching — pass them back in via
    ``base``/``mins``. Stored ``base``/``mins`` (the artifact store's
    tables) pin nothing, so such callers pass ``materialize=False``:
    the eager pass would only add a construct-time job and hide the
    pair plan behind a checkpoint scan.

    ``base``/``mins``: optional precomputed signature tables — a
    with_shingles() table and its minhash_min_cols() minima (e.g. read
    back from the artifact store, artifacts.py). Both must be
    materialized; when provided the operator computes no signatures at
    all and the caller owns their lifecycle (no unpersist here). The
    split into two tables is deliberate: banding reads only the minima
    (num_hashes longs/doc) and verification reads only the shingle
    sets, so neither path ever shuffles the other's payload.
    """
    owns_base = base is None
    if base is None:
        # persist: the shingle table feeds the minima aggregate AND
        # both sides of the verification join — without it the
        # tokenize+shingle chain re-runs three times (Generate trap).
        base = with_shingles(df, id_col, text_col, shingle_k).persist()
    else:
        check_precomputed_params(
            base, {"artifact": "minhash_base", "shingle_k": shingle_k},
            "minhash_lsh_pairs",
        )
    owns_mins = mins is None
    if mins is None:
        mins = minhash_min_cols(base, id_col, num_hashes, seed)
    else:
        check_precomputed_params(
            mins,
            {"artifact": "minhash_mins", "shingle_k": shingle_k,
             "num_hashes": num_hashes, "seed": seed},
            "minhash_lsh_pairs",
        )
    if strategy not in ("auto", "plain", "firstband"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        # per-corpus decision on MEASURED band-bucket group stats —
        # free from the artifact stamp when ``mins`` is the store's
        # table AND the call bands the way the stats were measured;
        # otherwise one two-level aggregation over the minima (an
        # EAGER action — pass an explicit strategy if the plan must
        # stay fully lazy). Rule and measured grounding in
        # pick_minhash_strategy.
        stats = None
        for field in mins.schema.fields:
            p = (field.metadata or {}).get("artifact_params") or {}
            if (
                "mh_band_pdup" in p
                and p.get("mh_stats_bands") == bands
                and p.get("mh_stats_num_hashes") == num_hashes
            ):
                stats = (p["mh_n"], p["mh_band_pdup"])
                break
        if stats is None and not owns_mins:
            # caller-provided (materialized) minima without a usable
            # stamp: one cheap two-level aggregation over the table
            measured = minhash_band_stats(mins, id_col, num_hashes, bands)
            stats = (measured["mh_n"], measured["mh_band_pdup"])
        if stats is None:
            # locally-built lazy minima: measuring would run the
            # signature build twice — default to the plain path (the
            # ephemeral-corpus shape); dup-heavy callers pass a
            # materialized ``mins`` or an explicit strategy
            strategy = "plain"
        else:
            strategy = pick_minhash_strategy(*stats, bands=bands)

    if strategy == "firstband":
        # dup-heavy path: carry each side's full band-bucket vector
        # through the band join and keep a pair only at its FIRST
        # matching band — each candidate pair is emitted exactly once,
        # so the dropDuplicates exchange (candidates × agreeing-band
        # multiplicity, the dominant shuffle on near-dup-heavy
        # corpora) disappears entirely. The first-match index is a
        # plain codegen when-chain over the two vectors; the join band
        # always matches (its bucket IS vector element band+1), so
        # canonical ≤ band and every true candidate survives somewhere.
        banded = _band_vectors(mins, id_col, num_hashes, bands, "_id")
        a = banded.select(
            F.col("_id").alias("id_a"), F.col("_bv").alias("_bv_a"), "band", "bucket"
        )
        b = banded.select(
            F.col("_id").alias("id_b"), F.col("_bv").alias("_bv_b"), "band", "bucket"
        )
        pairs = (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.col("band") == _first_match_band(bands, "_bv_a", "_bv_b"))
            .select("id_a", "id_b")
        )
    else:
        banded = band_buckets_from_cols(mins, id_col, num_hashes, bands)
        a = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
        b = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
        pairs = (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    sets = base.select(F.col(id_col).alias("_sid"), "_shingles")
    jac = (
        F.size(F.array_intersect("_sh_a", "_sh_b"))
        / F.size(F.array_union("_sh_a", "_sh_b"))
    ).alias("jaccard")
    out = (
        pairs.join(sets.select(F.col("_sid").alias("id_a"), F.col("_shingles").alias("_sh_a")), "id_a")
        .join(sets.select(F.col("_sid").alias("id_b"), F.col("_shingles").alias("_sh_b")), "id_b")
        .select("id_a", "id_b", jac)
        .where(F.col("jaccard") >= threshold)
    )
    if not materialize:
        return out
    try:
        return out.transform(_eager_materialize)
    finally:
        if owns_base:
            base.unpersist()


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """Drop every doc that near-duplicates a smaller-id doc (greedy
    keep-min-id); one anti-join against the verified pair set."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, [id_col], "left_anti")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash over word tokens: (id, simhash long).

    For each bit position i, the signed vote is Σ_tokens (bit_i ? +1 :
    -1); bit_i of the fingerprint is set iff the vote is positive.
    Scale shape mirrors minhash_signatures: explode token hashes →
    hash-aggregate with 64 vectorized conditional sums → assemble the
    fingerprint from the votes. Docs with zero tokens are dropped
    (no meaningful fingerprint).
    """
    hashed = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("_t")
    ).select(id_col, F.xxhash64("_t").alias("_h"))
    # expr-string construction (the 64 conditional sums + 64-term OR
    # chain cost ~1.2s/call in py4j Column building). The fingerprint
    # assembles by SUM of disjoint powers of two — identical to the OR
    # for distinct bits, including the sign bit via shiftleft(1L, 63).
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(case when (shiftright(_h, {i}) & 1) = 1 then 1 else -1 end)"
            ).alias(f"_v{i}")
            for i in range(64)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(case when _v{i} > 0 then shiftleft(1L, {i}) else 0L end)"
            for i in range(64)
        )
    )
    return votes.select(F.col(id_col), fp.alias(out_col))


def _comb_explode_sql(
    fp_col: str, combos: list[tuple[int, ...]], bits: int, mask: int
) -> str:
    """explode(array(struct(comb, bucket)…)) for combination blocking,
    as ONE SQL string. Semantically identical to the Column-API form
    (same xxhash64 over the same shifted-and-masked long children, so
    bucket values are bit-compatible with previously stored postings),
    but built in a single py4j call: at C(8,5)=56 combos the per-struct
    Column construction cost ~2s of driver time PER OPERATOR CALL."""
    structs = ", ".join(
        f"struct({ci} as comb, xxhash64("
        + ", ".join(f"(shiftright({fp_col}, {bits * i}) & {mask})" for i in combo)
        + ") as bucket)"
        for ci, combo in enumerate(combos)
    )
    return f"explode(array({structs}))"


def _canonical_key_filter(
    joined: DataFrame,
    key_col: str,
    clean_sets: list[tuple[int, ...]],
    bits: int,
    mask: int,
    max_hamming: int,
) -> DataFrame:
    """Blocking-key dedup WITHOUT a shuffle, for SimHash pair joins.

    ``joined`` is the bucket self-join output carrying (id_a, id_b,
    _h_a, _h_b, ``key_col``) where key ci blocks on the fingerprint
    sub-blocks in ``clean_sets[ci]``. A true pair collides in every
    key whose sub-blocks are all clean (xor == 0 there) — that whole
    multiplicity used to ride a dropDuplicates exchange, the dominant
    shuffle at any scale (pairs × C(blocks, d) rows). Both
    fingerprints are present in the joined row, so the pair's
    CANONICAL key — the first clean_set fully clean under
    xor(_h_a,_h_b) — is a plain codegen expression, and keeping only
    ``key_col == canonical`` emits each pair exactly once with zero
    dedup shuffle. Bucket hash collisions (blocks differ, xxhash64
    bucket equal) drop out the same way: their colliding key isn't
    clean, and the pair is kept where it truly collides (equal clean
    blocks ⇒ equal bucket hash, so the canonical key's bucket always
    joins). Output: (id_a, id_b, hamming), hamming ≤ ``max_hamming``.
    """
    stage = joined.select(
        "id_a",
        "id_b",
        key_col,
        F.col("_h_a").bitwiseXOR(F.col("_h_b")).alias("_x"),
    )
    n_blocks = max(max(cs) for cs in clean_sets) + 1
    # clean-mask bit i = "fingerprint sub-block i agrees"; the
    # canonical key per mask is a precomputed 2^n_blocks lookup array
    # (a per-key when-chain over C(blocks,d) subset tests blew past
    # the codegen method limit and fell back to interpreted eval —
    # measured 2.2× slower than even the dropDuplicates form).
    table = []
    for m in range(1 << n_blocks):
        first = -1
        for ci, cs in enumerate(clean_sets):
            cm = 0
            for i in cs:
                cm |= 1 << i
            if m & cm == cm:
                first = ci
                break
        table.append(first)
    # built as ONE SQL string: the column-API form issued a py4j
    # round-trip per literal/when (256-entry lookup + 8 whens), which
    # dominated the operator's DataFrame-construction time (~2s/call
    # measured at blocks=8 together with the banding structs below)
    cleanmask = " + ".join(
        f"(case when (shiftright(_x, {bits * i}) & {mask}) = 0 "
        f"then {1 << i} else 0 end)"
        for i in range(n_blocks)
    )
    canon = F.expr(
        f"element_at(array({','.join(map(str, table))}), ({cleanmask}) + 1)"
    )
    return (
        stage.where(F.bit_count("_x") <= max_hamming)
        .where(F.col(key_col) == canon)
        .select("id_a", "id_b", F.bit_count("_x").alias("hamming"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 16,
    sig: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash banding, verified with ``bit_count(xor)``.

    Pigeonhole recall guarantee: the fingerprint's low ``bands*bits``
    (≤64) bits split into ``bands`` disjoint blocks; a pair within
    Hamming distance ``bands-1`` (over the full 64 bits) has at most
    ``bands-1`` differing bits landing in the blocks, so at least one
    block matches exactly. Hence ``max_hamming <= bands - 1`` is
    required for exact recall — the default 4×16 covers Hamming ≤3,
    ``bands=6, bits=10`` covers Hamming ≤5.

    Occupancy / cost model (size the banding to the corpus): with n
    docs and uniform fingerprints, a band bucket holds ~n/2^bits docs
    and candidate generation costs ~bands · n²/2^(bits+1) pairs. At
    n=10⁶, 16-bit bands → ~15 docs/bucket (fine); at n=10⁹ → ~15k
    docs/bucket → ~10¹³ pairs (not fine). Fixes at that scale: raise
    ``bits`` and lower ``max_hamming`` accordingly (needs
    bands*bits ≤ 64), add a cheap second blocking key (e.g. a length
    bucket) to the join, or move to combination blocking (choose
    bands-d of bands sub-blocks as a 'super-band' key), which trades
    key replication for 2^(d·bits) sharper buckets.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            "for the pigeonhole recall guarantee"
        )
    if bands * bits > 64:
        raise ValueError("bands * bits must fit in the 64-bit fingerprint")
    mask = (1 << bits) - 1
    # sig: optional precomputed (id_col, simhash) table — pass a
    # persisted signature when several bandings run over one corpus
    # (q_simhash_pairs compares 4×16 vs 6×10) so the fingerprint pass
    # runs once, not once per banding. When building it here, persist
    # it first: the banded postings feed BOTH sides of the self-join,
    # and the unpersisted explode→agg fingerprint pipeline re-runs per
    # side (alias-renamed subtrees defeat exchange reuse — measured
    # 1.4s of q_simhash_md5_pairs' 5.4s at sf0.1).
    owns_sig = sig is None
    src = sig
    if src is None:
        src = simhash(df, id_col, text_col)
        if materialize:
            src = src.persist()  # released below after the eager compute
    else:
        # this operator consumes the 64-bit xxhash SimHash; the
        # artifact store's table is the 32-bit md5 twin — reject it
        check_precomputed_params(src, {"token_bits": 64}, "simhash_pairs")
    sh = src.select(F.col(id_col).alias("_id"), "simhash")
    banded = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "simhash", "bb.band", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_h_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_h_b"), "band", "bucket")
    # canonical-band dedup (see _canonical_key_filter): each true pair
    # survives in exactly ONE band — its first clean one — so no
    # dropDuplicates shuffle ever carries the pair × multiplicity blowup.
    out = _canonical_key_filter(
        a.join(b, ["band", "bucket"]).where(F.col("id_a") < F.col("id_b")),
        key_col="band",
        clean_sets=[(i,) for i in range(bands)],
        bits=bits,
        mask=mask,
        max_hamming=max_hamming,
    )
    if not (owns_sig and materialize):
        return out
    try:
        return out.transform(_eager_materialize)
    finally:
        src.unpersist()


def simhash_pairs_combination(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs via combination blocking — the 10⁹⁺-doc
    form of ``simhash_pairs``.

    The fingerprint splits into ``blocks`` sub-blocks of 64/blocks bits.
    A pair within Hamming distance d has ≤d dirty sub-blocks, so some
    (blocks-d)-subset of sub-blocks is clean on both sides — block on
    every C(blocks, d) such subset (concatenated into one wide key)
    and the pair collides on at least one. Same exact-recall guarantee
    as banding, but each key carries (blocks-d)·(64/blocks) bits
    instead of 64/bands: with blocks=8, d=3 that is 40-bit buckets
    (occupancy n/2⁴⁰ — empty until n≈10¹²) at the cost of C(8,3)=56
    key replicas per doc. Replication grows as C(blocks, d): use for
    small Hamming radii (d ≤ 4); fall back to plain banding + a second
    blocking key for loose radii.
    """
    from itertools import combinations

    if not 0 < max_hamming < blocks:
        raise ValueError("need 0 < max_hamming < blocks")
    bits = 64 // blocks
    mask = (1 << bits) - 1
    # persist: the C(blocks,d)-replicated postings feed both self-join
    # sides; unpersisted, the fingerprint pipeline runs twice (see
    # simhash_pairs).
    src = simhash(df, id_col, text_col).persist()
    sh = src.select(F.col(id_col).alias("_id"), "simhash")

    combos = list(combinations(range(blocks), blocks - max_hamming))
    banded = sh.select(
        "_id",
        "simhash",
        F.expr(_comb_explode_sql("simhash", combos, bits, mask)).alias("bb"),
    ).select("_id", "simhash", "bb.comb", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_h_a"), "comb", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_h_b"), "comb", "bucket")
    # canonical-combination dedup (see _canonical_key_filter): zero
    # dedup shuffle; a true pair survives only in its first clean
    # (blocks-d)-subset.
    out = _canonical_key_filter(
        a.join(b, ["comb", "bucket"]).where(F.col("id_a") < F.col("id_b")),
        key_col="comb",
        clean_sets=combos,
        bits=bits,
        mask=mask,
        max_hamming=max_hamming,
    )
    try:
        return out.transform(_eager_materialize)
    finally:
        src.unpersist()


def simhash_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash32",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """32-bit SimHash whose token hashes are md5-derived, so any engine
    with md5 reproduces the fingerprint bit-for-bit — the cross-engine
    twin of ``simhash`` (xxhash64 tokens, Spark-only), mirroring the
    ``fingerprint``/``fingerprint_md5`` split in operators/text.py.

    Token hash = first 8 hex chars of md5(token) as an unsigned 32-bit
    integer (conv base16→10); votes and assembly are identical to
    ``simhash`` but over 32 bit positions. Same explode → 32
    conditional-sum hash-aggregate scale shape (map-side combine keeps
    the shuffle ≈ |docs|); use this for cross-system verification, the
    64-bit twin for pure-Spark dedup.

    The md5 runs once per DISTINCT token, not per occurrence: token
    occurrences follow a Zipf law, so hashing the vocabulary and
    broadcast-joining it back cuts the md5 work by the corpus'
    occurrence/vocabulary ratio (~10× on the test corpus) while leaving
    the fingerprint bit-identical. The broadcast assumes a bounded
    vocabulary (word tokens — millions of entries at worst), which holds
    for the verification corpus this twin exists for; the xxhash64
    production twin needs no vocabulary table at all.

    ``vocab`` (r16, guide §2.4 — remove a redundant corpus pass): a
    single-column ``_t`` frame whose token set must be a SUPERSET of
    ``df``'s distinct ``tokens_col`` tokens (the per-token join below
    is inner from the token-stream side, so extra vocab rows are
    harmless and a MISSING token would silently drop its votes — the
    caller owns that contract). Repeated vocab rows are fine: the
    vocabulary is de-duplicated here, since each copy of a token would
    otherwise join every occurrence again and multiply its votes. When
    omitted, the vocabulary is derived from ``df`` itself, which plans a
    SECOND full scan + tokenize of the corpus (column pruning trims it
    to the text column, but at 100 TB it is still a second pass over
    the data).
    The artifact build passes the stored counting cube's vocabulary —
    the same tokenizer over the same corpus, so the sets are equal and
    the fingerprints bit-identical, with the second corpus pass
    replaced by a vocabulary-sized cube scan."""
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_t"))
    if vocab is None:
        vocab = toks.select("_t")
    vocab = vocab.distinct().select(
        "_t",
        F.conv(F.substring(F.md5("_t"), 1, 8), 16, 10).cast("long").alias("_h"),
    )
    hashed = toks.join(F.broadcast(vocab), "_t").select(id_col, "_h")
    # expr-string construction + sum-of-disjoint-powers assembly (see
    # simhash); 32 bits all positive, but shiftleft keeps the twins
    # textually parallel
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(case when (shiftright(_h, {i}) & 1) = 1 then 1 else -1 end)"
            ).alias(f"_v{i}")
            for i in range(32)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(case when _v{i} > 0 then shiftleft(1L, {i}) else 0L end)"
            for i in range(32)
        )
    )
    return votes.select(F.col(id_col), fp.alias(out_col))


def fp_group_stats(src: DataFrame, fp_col: str) -> dict:
    """Measured fingerprint group statistics: ``fp_n`` rows, ``fp_d``
    distinct fingerprints, ``fp_pdup`` = Σ C(m, 2) over identical-
    fingerprint groups (the exact-duplicate pair mass). One two-level
    aggregation (map-side combinable both levels); the artifact store
    stamps the result at build time so the pair strategy never re-runs
    it per query (artifacts.simhash32_table)."""
    g = src.groupBy(fp_col).agg(F.count(F.lit(1)).alias("_m"))
    row = g.agg(
        F.coalesce(F.sum("_m"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("d"),
        F.coalesce(
            F.sum(F.expr("CAST(_m * (_m - 1) AS BIGINT) div 2")), F.lit(0)
        ).alias("pdup"),
    ).first()
    return {
        "fp_n": int(row["n"]),
        "fp_d": int(row["d"]),
        "fp_pdup": int(row["pdup"]),
    }


def pick_simhash_strategy(fp_n: int, fp_pdup: int, n_combos: int) -> str:
    """The per-corpus canonical-vs-distinct decision rule, on measured
    fingerprint group stats (see ``simhash_md5_pairs``): the canonical
    join streams ``n_combos × fp_pdup`` rows just for identical-fp
    pairs, the distinct form streams them once plus two expansion
    joins (~O(fp_n + output)). Crossover pinned an order of magnitude
    from both measured sf0.1 regimes: 94%-distinct testdata has
    combos·pdup ≈ 4n (canonical measured faster — the expansion joins
    cost more than the stream they save, NOTES r11), the 20×-replica
    corpus ≈ 612n (distinct measured 2.6× faster, and the gap widens
    with scale). Below ~1 s of work either form is overhead-bound and
    the choice is immaterial."""
    return "distinct" if n_combos * fp_pdup > 16 * fp_n else "canonical"


def _simhash_distinct_fp_pairs(
    src: DataFrame, id_col: str, combos, bits: int, mask: int, max_hamming: int
) -> DataFrame:
    """Distinct-fingerprint banding + group expansion — the dup-heavy
    complement to the canonical-filter form (the r11 prototype, now a
    real strategy): band the DISTINCT fingerprints only (the
    C(blocks,d) explode never multiplies by group size), canonical-
    filter the fp-level pairs, then expand back to doc pairs through
    the membership table — cross-group pairs via two joins, identical-
    fp pairs (hamming 0) via one membership self-join that streams
    each output pair ONCE instead of once per combination key. Output
    is bit-identical to the canonical form: a doc pair maps to exactly
    one unordered fingerprint pair, so no pair can appear twice."""
    m = src.select(F.col(id_col).alias("_id"), "simhash32")
    dfp = m.select("simhash32").distinct()
    banded = dfp.select(
        "simhash32",
        F.expr(_comb_explode_sql("simhash32", combos, bits, mask)).alias("bb"),
    ).select("simhash32", "bb.comb", "bb.bucket")
    a = banded.select(
        F.col("simhash32").alias("id_a"),
        F.col("simhash32").alias("_h_a"),
        "comb",
        "bucket",
    )
    b = banded.select(
        F.col("simhash32").alias("id_b"),
        F.col("simhash32").alias("_h_b"),
        "comb",
        "bucket",
    )
    fpairs = _canonical_key_filter(
        a.join(b, ["comb", "bucket"]).where(F.col("id_a") < F.col("id_b")),
        key_col="comb",
        clean_sets=combos,
        bits=bits,
        mask=mask,
        max_hamming=max_hamming,
    ).select(
        F.col("id_a").alias("_fa"), F.col("id_b").alias("_fb"), "hamming"
    )
    cross = (
        fpairs.join(
            m.select(F.col("simhash32").alias("_fa"), F.col("_id").alias("_da")),
            "_fa",
        )
        .join(
            m.select(F.col("simhash32").alias("_fb"), F.col("_id").alias("_db")),
            "_fb",
        )
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            "hamming",
        )
    )
    g1 = m.select("simhash32", F.col("_id").alias("id_a"))
    g2 = m.select("simhash32", F.col("_id").alias("id_b"))
    within = (
        g1.join(g2, "simhash32")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("integer").alias("hamming"))
    )
    return within.unionByName(cross)


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 8,
    sig: DataFrame | None = None,
    materialize: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """Near-dup pairs on the 32-bit md5 SimHash via COMBINATION
    blocking, verified with bit_count(xor). The fingerprint splits into
    ``blocks`` sub-blocks of 32/blocks bits; a pair within Hamming
    ``max_hamming`` has some (blocks − max_hamming)-subset of clean
    sub-blocks, so blocking on every such C(blocks, d) subset key
    preserves exact recall (same pigeonhole as banding) — the result is
    deterministically THE pair set at the radius, which a cross-engine
    oracle reproduces with an exhaustive self-join.

    Combination keys are the right shape in only 32 bits: plain
    4-band × 8-bit banding has bucket occupancy n/256 per band, which
    is ~28M candidate pairs at n=60k (measured 3.0s); the default
    C(8,5)=56 keys carry 20 bits each (occupancy n/2²⁰), collapsing
    candidates to near-true-pairs-only (measured 1.3s — and the gap
    widens quadratically with n).

    ``strategy`` (r12): ``"canonical"`` bands every doc fingerprint
    and dedups with the in-codegen canonical-key filter — best on
    mostly-distinct corpora; ``"distinct"`` bands DISTINCT
    fingerprints and expands identical-fp groups back through the
    membership table — best on dup-heavy corpora where the
    within-group C(m,2)·C(blocks,d) join stream would dominate (a 20×
    exact-replica corpus at sf0.1 measures 9.96 s canonical vs 3.89 s
    distinct, and the gap widens with scale — the saved stream grows
    with pair mass while the expansion joins grow with output). Both
    emit the identical pair set. ``"auto"`` (default) decides per
    corpus on measured fingerprint group stats — free from the
    artifact stamp when ``sig`` is the store's table, otherwise one
    tiny two-level aggregation (note: that aggregation is an EAGER
    action; pass an explicit strategy if the plan must stay fully
    lazy)."""
    from itertools import combinations

    if not 0 < max_hamming < blocks:
        raise ValueError("need 0 < max_hamming < blocks")
    if 32 % blocks:
        raise ValueError("blocks must divide 32")
    bits = 32 // blocks
    mask = (1 << bits) - 1
    # sig/materialize contract as in simhash_pairs: a caller-provided
    # fingerprint table (e.g. the artifact store's) is used as-is; a
    # locally-built one is persisted so the self-join's two sides don't
    # each re-run the md5 explode→agg pipeline (measured 5.4→4.0s at
    # sf0.1), then released after the eager compute.
    owns_sig = sig is None
    src = sig
    if src is None:
        src = simhash_md5(df, id_col, text_col)
        if materialize:
            src = src.persist()
    else:
        check_precomputed_params(
            src, {"artifact": "simhash32", "token_bits": 32, "hash": "md5"},
            "simhash_md5_pairs",
        )
    combos = list(combinations(range(blocks), blocks - max_hamming))
    if strategy not in ("auto", "canonical", "distinct"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        # per-corpus decision on MEASURED fingerprint group stats
        # (r11 verdict): the canonical join streams every identical-
        # fp pair once per combination key (C(blocks,d) × Σ C(m,2)
        # rows), the distinct form streams it once but pays two
        # expansion joins. Stats come free from the artifact stamp
        # (artifacts.simhash32_table measures them at build); an
        # unstamped table pays one tiny two-level aggregation; rule
        # and measured grounding in pick_simhash_strategy.
        stats = None
        for field in src.schema.fields:
            p = (field.metadata or {}).get("artifact_params") or {}
            if "fp_pdup" in p:
                stats = (p["fp_n"], p["fp_pdup"])
                break
        if stats is None:
            measured = fp_group_stats(src, "simhash32")
            stats = (measured["fp_n"], measured["fp_pdup"])
        strategy = pick_simhash_strategy(*stats, n_combos=len(combos))

    if strategy == "distinct":
        out = _simhash_distinct_fp_pairs(
            src, id_col, combos, bits, mask, max_hamming
        )
    else:
        sh = src.select(F.col(id_col).alias("_id"), "simhash32")
        banded = sh.select(
            "_id",
            "simhash32",
            F.expr(_comb_explode_sql("simhash32", combos, bits, mask)).alias("bb"),
        ).select("_id", "simhash32", "bb.comb", "bb.bucket")
        a = banded.select(F.col("_id").alias("id_a"), F.col("simhash32").alias("_h_a"), "comb", "bucket")
        b = banded.select(F.col("_id").alias("id_b"), F.col("simhash32").alias("_h_b"), "comb", "bucket")
        # canonical-combination dedup (see _canonical_key_filter): the
        # dropDuplicates exchange used to carry pairs × clean-combo
        # multiplicity (~40× on the near-dup-heavy test corpus); the
        # canonical filter runs inside the join's codegen stage instead.
        out = _canonical_key_filter(
            a.join(b, ["comb", "bucket"]).where(F.col("id_a") < F.col("id_b")),
            key_col="comb",
            clean_sets=combos,
            bits=bits,
            mask=mask,
            max_hamming=max_hamming,
        )
    if not (owns_sig and materialize):
        return out
    try:
        return out.transform(_eager_materialize)
    finally:
        src.unpersist()


def minhash_then_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    block_cols: list[str] | None = None,
    seed: int = 42,
    materialize: bool = True,
    base: DataFrame | None = None,
    mins: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at scale: MinHash-LSH candidates →
    exact verify. The scale path for ``ngram_jaccard_pairs`` — exact
    Jaccard is only ever computed on the banding candidates, never
    block-wide, so pair work is candidate-proportional at any corpus
    size instead of O(n²/|blocks|).

    ``materialize`` as in :func:`minhash_lsh_pairs`: the default
    eagerly computes the pair set and releases the signature cache;
    ``materialize=False`` keeps the plan lazy and leaves the cache to
    the caller.

    Recall: a pair at Jaccard s survives banding with probability
    1-(1-s^r)^b (r = num_hashes/bands rows per band). The default
    r=2, b=32 gives miss ≈ (1-s²)^32 — 0.4% at s=0.5, 4·10⁻⁷ at
    s=0.7 — so at production thresholds the candidate set dominates
    the exact pair set with near-certain recall; tighten r=1 (b=64)
    only when pairs sitting exactly at a low threshold must not be
    missed. ``block_cols`` (e.g. ["lang"]) additionally restricts
    candidates to matching blocks, mirroring the blocked exact
    operator's semantics.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard computed
    on the exact k-shingle sets and filtered at ``threshold``.

    ``base``/``mins``: optional precomputed signature tables (see
    :func:`minhash_lsh_pairs`); here ``base`` must carry ``block_cols``
    and a ``_n`` = size(_shingles) column, and ``mins`` must carry
    both as pass-through keys (the artifact-store tables do).

    Dup-heavy note: this path keeps the plain postings + dropDuplicates
    shape — the size-ratio prune kills most of a near-dup cluster's
    agreeing-band multiplicity only when sizes differ, so on NEAR-dup-
    heavy corpora (uniform sizes) prefer ``minhash_lsh_pairs`` with
    its measured-stats ``strategy`` (firstband emits each candidate
    exactly once with zero dedup shuffle) and verify at the same
    threshold.
    """
    block_cols = list(block_cols or [])
    owns_base = base is None
    if base is None:
        # block_cols ride along in the shingle projection (no join
        # back to df) and _n is pre-sized so the banding prune reads a
        # plain long, never the array.
        base = (
            with_shingles(df, id_col, text_col, k, keep_cols=block_cols)
            .withColumn("_n", F.size("_shingles"))
            .persist()
        )
    else:
        check_precomputed_params(
            base, {"artifact": "minhash_base", "shingle_k": k},
            "minhash_then_exact",
        )
    if mins is None:
        mins = minhash_min_cols(
            base, id_col, num_hashes, seed, keep_cols=["_n", *block_cols]
        )
    else:
        check_precomputed_params(
            mins,
            {"artifact": "minhash_mins", "shingle_k": k,
             "num_hashes": num_hashes, "seed": seed},
            "minhash_then_exact",
        )
    banded = band_buckets_from_cols(
        mins, id_col, num_hashes, bands, keep_cols=["_n", *block_cols]
    )

    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_n_a"), *block_cols, "band", "bucket"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("_n_b"), *block_cols, "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket", *block_cols])
        .where(F.col("id_a") < F.col("id_b"))
        # lossless size-ratio prune (J <= min/max) before the dedup
        # shuffle and the array join
        .where(F.least("_n_a", "_n_b") >= F.lit(threshold) * F.greatest("_n_a", "_n_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = base.select(F.col(id_col).alias("_sid"), "_shingles")
    jac = (
        F.size(F.array_intersect("_sh_a", "_sh_b"))
        / F.size(F.array_union("_sh_a", "_sh_b"))
    ).alias("jaccard")
    out = (
        pairs.join(sets.select(F.col("_sid").alias("id_a"), F.col("_shingles").alias("_sh_a")), "id_a")
        .join(sets.select(F.col("_sid").alias("id_b"), F.col("_shingles").alias("_sh_b")), "id_b")
        .select("id_a", "id_b", jac)
        .where(F.col("jaccard") >= threshold)
    )
    if not materialize:
        return out
    try:
        return out.transform(_eager_materialize)
    finally:
        if owns_base:
            base.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_docs: int | None = 100_000,
    base: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over blocked pairs (the non-probabilistic
    baseline the MinHash path approximates). ``block_cols`` bounds the
    candidate blowup (e.g. ["lang"]); omit only on small corpora.

    COUNT-BASED set-similarity join (same identity as
    :func:`ngram_overlap_pairs`): the shingle arrays are distinct
    sets, so posting-join hits per id pair count ``|A∩B|`` exactly and
    ``J = c / (|A| + |B| - c)`` — one inverted-index self-join on
    (block, shingle) plus one pair-keyed count aggregate. The lossless
    size-ratio prune (J(A,B) ≤ min/max) applies as a join predicate on
    the carried set sizes, dropping most candidate postings before the
    aggregate. No quadratic block join, no array shuffle, no
    array_intersect. (History: the round-1 formulation joined arrays
    inside the block join and serialized onto |block keys| partitions;
    the round-3 array-verify form shipped shingle arrays for every
    candidate pair. This form measures 3.2s vs 2.4s at sf0.1 — the
    quadratic form wins at toy scale because its id-only block join is
    cheap and the size-ratio prune kills 2.5M candidates early — but
    candidate work here is ~326k posting pairs instead of 2.5M
    id pairs, and at 100× the corpus the quadratic form's 25B pairs
    are infeasible while posting pairs grow ~linearly. Scale wins.)

    GATED: still worst-case quadratic within a hot shingle bucket, so
    the baseline refuses corpora above ``max_docs`` (limit-bounded
    probe) — use :func:`minhash_then_exact` (same result,
    LSH-candidate-proportional work) at scale, or pass
    ``max_docs=None`` after sizing the blocks yourself.

    Exploding a freshly-built shingle expression re-evaluates the
    array per output row (the Generate trap), so the shingle table is
    persisted first and released after an eager checkpoint.

    ``base``: optional precomputed with_shingles() table (the artifact
    store's — must carry ``block_cols`` and be materialized; caller
    owns its lifecycle).
    """
    _gate_corpus_size(df, max_docs, "ngram_jaccard_pairs", "minhash_then_exact")
    owns_shingled = base is None
    if base is not None:
        check_precomputed_params(
            base, {"artifact": "minhash_base", "shingle_k": k},
            "ngram_jaccard_pairs",
        )
    src = base if base is not None else with_shingles(
        df, id_col, text_col, k, keep_cols=block_cols
    )
    shingled = (
        src.select(id_col, *(block_cols or []), "_shingles")
        .withColumnRenamed("_shingles", "_sh")
        .withColumnRenamed(id_col, "_sid")
    )
    if owns_shingled:
        shingled = shingled.persist()
    posting = shingled.select(
        "_sid", *(block_cols or []), F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    a = posting.select(
        F.col("_sid").alias("id_a"), F.col("_n").alias("_n_a"), *(block_cols or []), "_s"
    )
    b = posting.select(
        F.col("_sid").alias("id_b"), F.col("_n").alias("_n_b"), *(block_cols or []), "_s"
    )
    out = (
        a.join(b, [*(block_cols or []), "_s"])
        .where(F.col("id_a") < F.col("id_b"))
        # lossless size-ratio prune: J <= min(|A|,|B|)/max(|A|,|B|)
        .where(
            F.least("_n_a", "_n_b") >= F.lit(threshold) * F.greatest("_n_a", "_n_b")
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.first("_n_a").alias("_na"),
            F.first("_n_b").alias("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c"))).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    try:
        return out.transform(_eager_materialize)
    finally:
        if owns_shingled:
            shingled.unpersist()


def ngram_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    block_cols: list[str] | None = None,
    max_docs: int | None = 100_000,
    base: DataFrame | None = None,
    strategy: str = "plain",
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs:
    ``|A∩B| / min(|A|,|B|)`` over k-word shingle sets — the detector
    for SUBSUMED documents (boilerplate-wrapped copies, excerpt pages,
    quote farms) that Jaccard structurally misses: a short doc fully
    contained in a long one has overlap 1.0 but Jaccard ≈ |A|/|B| → 0.

    COUNT-BASED set-similarity join (the AllPairs/PPJoin family's core
    identity): because the shingle arrays are distinct sets, the number
    of posting-join hits per id pair IS ``|A∩B|`` exactly — so the
    operator is one inverted-index self-join on (block, shingle) plus
    one pair-keyed count aggregate, with set sizes carried on the
    postings. No candidate `distinct`, no array re-join, no
    array_intersect: the arrays never travel through a shuffle at all.
    (The previous array-verify formulation measured 4.3s at sf0.1;
    this one 3.3s — the arrays and their shuffles are gone; what
    remains is the posting join itself.) Exactness: intersection counted from distinct
    postings, overlap is int/int division — bit-identical to the
    set-algebra form.

    Scale shape: candidate work is Σ_bucket c² over shingle-postings
    buckets — corpus-size-independent for rare shingles; hot shingles
    (stopword n-grams) are the residual skew risk, split by AQE. The
    size-ratio prefilter of :func:`ngram_jaccard_pairs` deliberately
    does NOT apply (that prune is exactly the asymmetric-pair region
    containment exists to keep). The corpus gate stays as a
    belt-and-braces bound; the MinHash-LSH scale path applies
    unchanged (band signatures, verify with overlap).

    The shingle table is persisted before the explode: exploding the
    raw shingle expression re-evaluates the whole array build per
    OUTPUT row (the Generate trap measured at 20× in
    minhash_signatures' design notes — 9.0s → 0.5s for this posting
    scan at sf0.1). The result is eagerly checkpointed and the cache
    released before returning (minhash_lsh_pairs semantics).

    ``base``: optional precomputed with_shingles() table (see
    :func:`ngram_jaccard_pairs`).

    ``strategy`` (r13, the dup-heavy / re-crawl regime): "plain"
    (default) posts per RAW doc — correct, but an m-member
    exact-replica cluster puts m copies in EVERY posting list, so the
    join does Σ|shingles|·C(m,2) work (measured quadratic: R=120
    replicas at sf0.001 → 9.6 s / 1M pairs, no cap bounds it — the
    df-cap escape hatch is intentionally absent here because common
    shingles ARE the containment signal). "collapse" groups docs by
    TEXT identity first (identical text ⇒ identical shingle set ⇒
    identical overlap with everything — an exact factoring), joins
    representatives only (O(distinct texts) candidate work), and
    expands pairs by membership algebra: within-group pairs have
    overlap exactly 1.0 (qualifying whenever threshold ≤ 1 and the
    set is non-empty), cross-group pairs inherit the representative
    overlap. Bit-identical to plain on every corpus (no df semantics
    to shift, unlike winnowing_pairs). "auto" decides from the
    duplication ratio (≥1.25 → collapse) — FREE when ``base`` is the
    artifact store's shingle table, whose stamp carries the measured
    (mb_n, mb_dsig) distinct-shingle-set stats from build (r13);
    otherwise ONE EAGER aggregate over ``df``. Plan-only callers
    without a stamped ``base`` should pass an explicit strategy.
    """
    if strategy == "auto":
        stats = None
        if base is not None:
            for field in base.schema.fields:
                p = (field.metadata or {}).get("artifact_params") or {}
                if "mb_dsig" in p:
                    stats = (p["mb_n"], p["mb_dsig"])
                    break
        if stats is None:
            stats = df.select(
                F.count(F.lit(1)), F.countDistinct(text_col)
            ).first()
        n, d = stats
        strategy = "collapse" if d and n / d >= 1.25 else "plain"
    if strategy == "collapse":
        return _ngram_overlap_pairs_collapsed(
            df, id_col, text_col, k, threshold, block_cols, max_docs
        )
    if strategy != "plain":
        raise ValueError(f"unknown ngram_overlap_pairs strategy: {strategy!r}")
    _gate_corpus_size(df, max_docs, "ngram_overlap_pairs", "minhash_then_exact")
    owns_shingled = base is None
    if base is not None:
        check_precomputed_params(
            base, {"artifact": "minhash_base", "shingle_k": k},
            "ngram_overlap_pairs",
        )
    src = base if base is not None else with_shingles(
        df, id_col, text_col, k, keep_cols=block_cols
    )
    shingled = (
        src.select(id_col, *(block_cols or []), "_shingles")
        .withColumnRenamed("_shingles", "_sh")
        .withColumnRenamed(id_col, "_sid")
    )
    if owns_shingled:
        shingled = shingled.persist()
    posting = shingled.select(
        "_sid", *(block_cols or []), F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    a = posting.select(
        F.col("_sid").alias("id_a"), F.col("_n").alias("_n_a"), *(block_cols or []), "_s"
    )
    b = posting.select(
        F.col("_sid").alias("id_b"), F.col("_n").alias("_n_b"), *(block_cols or []), "_s"
    )
    out = (
        a.join(b, [*(block_cols or []), "_s"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.first("_n_a").alias("_na"),
            F.first("_n_b").alias("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_c") / F.least("_na", "_nb")).alias("overlap"),
        )
        .where(F.col("overlap") >= threshold)
    )
    try:
        return out.transform(_eager_materialize)
    finally:
        if owns_shingled:
            shingled.unpersist()


def _ngram_overlap_pairs_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    block_cols: list[str] | None,
    max_docs: int | None,
) -> DataFrame:
    """Text-identity collapse path of :func:`ngram_overlap_pairs`:
    shingle one representative per distinct (block…, text), run the
    count-based posting join over representatives, expand to raw-id
    pairs by membership algebra (within-group overlap is exactly 1.0;
    cross-group pairs inherit the representative overlap). The
    corpus-size gate applies to the COLLAPSED corpus — distinct texts
    are what the quadratic identity bounds."""
    blocks = list(block_cols or [])
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_tx"),
        *blocks,
        F.md5(F.concat_ws("\x1f", *blocks, F.col(text_col))).alias("_tk"),
    )
    groups = keyed.groupBy("_tk").agg(
        F.min(F.struct("_id", "_tx", *[F.col(c) for c in blocks])).alias("_s"),
        F.count(F.lit(1)).alias("_m"),
    )
    reps = groups.select(
        "_tk",
        F.col("_s._tx").alias("_tx"),
        *[F.col(f"_s.{c}").alias(c) for c in blocks],
    )
    _gate_corpus_size(reps, max_docs, "ngram_overlap_pairs", "minhash_then_exact")
    members = keyed.select("_tk", "_id")
    base = with_shingles(reps, "_tk", "_tx", k, keep_cols=blocks).persist()
    try:
        rp = ngram_overlap_pairs(
            reps,
            "_tk",
            "_tx",
            k=k,
            threshold=threshold,
            block_cols=blocks or None,
            max_docs=None,
            base=base,
            strategy="plain",
        )
        cross = (
            rp.join(
                members.select(
                    F.col("_tk").alias("id_a"), F.col("_id").alias("_ia")
                ),
                "id_a",
            )
            .join(
                members.select(
                    F.col("_tk").alias("id_b"), F.col("_id").alias("_ib")
                ),
                "id_b",
            )
            .select(
                F.least("_ia", "_ib").alias("id_a"),
                F.greatest("_ia", "_ib").alias("id_b"),
                "overlap",
            )
        )
        if threshold > 1.0:
            return cross.transform(_eager_materialize)
        # within-group: overlap of identical NON-EMPTY sets is exactly
        # 1.0 (empty sets produce no posting hit in plain — excluded)
        dup_groups = (
            groups.where(F.col("_m") >= 2)
            .join(
                base.select("_tk", F.size("_shingles").alias("_nsh")), "_tk"
            )
            .where(F.col("_nsh") > 0)
            .select("_tk")
        )
        wm = members.join(dup_groups, "_tk")
        within = (
            wm.select("_tk", F.col("_id").alias("id_a"))
            .join(wm.select("_tk", F.col("_id").alias("id_b")), "_tk")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(1.0).alias("overlap"))
        )
        return cross.unionByName(within).transform(_eager_materialize)
    finally:
        base.unpersist()


def minhash_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    materialize: bool = True,
    strategy: str = "plain",
) -> DataFrame:
    """CROSS-corpus near-dup pairs: (left_id, right_id, jaccard) where
    a LEFT doc near-duplicates a RIGHT doc — the crawl-vs-corpus /
    eval-vs-train decontamination shape, as opposed to the self-join in
    :func:`minhash_lsh_pairs`. Both sides sign and band independently
    (same seed → same hash family, so shared shingles collide); the
    bucket join is bipartite, so there is no id ordering constraint and
    ids may overlap between corpora. Shingle arrays join in only for
    surviving candidates; the banding shuffle carries (id, band,
    bucket) triples ∝ each corpus, the verify join ∝ cross collisions.

    At 100 TB the RIGHT (reference) side's postings are built once and
    persisted (band_buckets output IS the index — cf.
    streaming/dedup_stream.py); each new crawl batch signs itself and
    joins the stored postings, never re-banding history.

    Cache contract (same as minhash_lsh_pairs): with the default
    ``materialize=True`` the pair set is computed eagerly and BOTH
    signature caches are released before returning; with
    ``materialize=False`` the caller owns both persisted signature
    tables (two corpora's shingle+minhash arrays) for the session's
    lifetime — use it for plan inspection only.

    ``strategy`` (r13): ``"firstband"`` is the bipartite twin of the
    ``minhash_lsh_pairs`` strategy — both sides carry their band-bucket
    vectors and a cross pair survives only at its first agreeing band,
    replacing the dropDuplicates exchange (cross candidates × agreeing
    bands) with an in-join filter. Choose it when the LEFT batch is
    near-dup-heavy AGAINST the reference (the re-crawl shape: many new
    docs are close variants of stored ones, so each cross pair would
    otherwise ride most of the ``bands`` keys). Default stays
    ``"plain"``: signatures here are built per call, so there is no
    stamped stats table to auto-decide from. Identical pair set either
    way (unit-pinned)."""
    if strategy not in ("plain", "firstband"):
        raise ValueError(f"unknown strategy {strategy!r}")
    sig_l = with_shingles(left, id_col, text_col, shingle_k).persist()
    sig_r = with_shingles(right, id_col, text_col, shingle_k).persist()
    if strategy == "firstband":
        b_l = _band_vectors(
            minhash_min_cols(sig_l, id_col, num_hashes, seed),
            id_col, num_hashes, bands, "left_id",
        ).withColumnRenamed("_bv", "_bv_a")
        b_r = _band_vectors(
            minhash_min_cols(sig_r, id_col, num_hashes, seed),
            id_col, num_hashes, bands, "right_id",
        ).withColumnRenamed("_bv", "_bv_b")
        pairs = (
            b_l.join(b_r, ["band", "bucket"])
            .where(F.col("band") == _first_match_band(bands, "_bv_a", "_bv_b"))
            .select("left_id", "right_id")
        )
    else:
        b_l = band_buckets_from_cols(
            minhash_min_cols(sig_l, id_col, num_hashes, seed), id_col, num_hashes, bands
        ).select(F.col("_id").alias("left_id"), "band", "bucket")
        b_r = band_buckets_from_cols(
            minhash_min_cols(sig_r, id_col, num_hashes, seed), id_col, num_hashes, bands
        ).select(F.col("_id").alias("right_id"), "band", "bucket")
        pairs = (
            b_l.join(b_r, ["band", "bucket"])
            .select("left_id", "right_id")
            .dropDuplicates(["left_id", "right_id"])
        )
    jac = (
        F.size(F.array_intersect("_sh_a", "_sh_b"))
        / F.size(F.array_union("_sh_a", "_sh_b"))
    ).alias("jaccard")
    out = (
        pairs.join(
            sig_l.select(F.col(id_col).alias("left_id"), F.col("_shingles").alias("_sh_a")),
            "left_id",
        )
        .join(
            sig_r.select(F.col(id_col).alias("right_id"), F.col("_shingles").alias("_sh_b")),
            "right_id",
        )
        .select("left_id", "right_id", jac)
        .where(F.col("jaccard") >= threshold)
    )
    if not materialize:
        return out
    try:
        return out.transform(_eager_materialize)
    finally:
        sig_l.unpersist()
        sig_r.unpersist()


def dedup_against_reference(
    new: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """Drop every NEW doc that near-duplicates ANY reference doc (one
    anti-join against the verified cross-pair set) — incremental crawl
    cleaning against an already-curated corpus."""
    pairs = minhash_cross_pairs(
        new, reference, id_col, text_col, threshold=threshold, **kwargs
    )
    losers = pairs.select(F.col("left_id").alias(id_col)).distinct()
    return new.join(losers, [id_col], "left_anti")
