"""Wave 38 [EXT]: BPE-tokenized sequence packing — the last split in
the LLM-pipeline tokenizer arc. q_bpe_merges LEARNS the merge table
from the corpus word-frequency cube; q_bpe_vocab SERVES the induced
vocabulary over the vocab table; q_bpe_chunks closes the loop by
tokenizing the CORPUS with the learned merges and feeding the result
straight into the existing concat-and-chunk packing machinery
(operators/packing.pack_sequences): learn merges → segment documents
→ pack into fixed-length training sequences — the exact productions a
pre-training data pipeline runs over 100 TB.

Scale shape (r16): the learned merges are LITERALS, and the 8-replace
segmentation rewrite runs once per DISTINCT WORD over the stored
counting cube's vocab table — never over the corpus text. Per-doc
symbol counts come back via an explode + word join + per-doc sum
(one aggregate shuffle keyed by doc_id); the remaining shuffles are
the ones the packing operator already owns: the two-phase distributed
prefix sum (bucketed window, never a global single-partition sort)
plus the final per-sequence aggregate.

Reference parity: [EXT] — the reference (bpi_crawler.py) has no
corpus tooling; this extends the §2.11 training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .registry import query

BPE_SEQ_LEN = 128
BPE_N_MERGES = 8


@query(oracle=lambda: _bpe_chunks_oracle())
def q_bpe_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Pack the BPE-tokenized corpus into 128-token training
    sequences: read the learned 8-merge table from the stored
    bpe_merges artifact (trained once per corpus), count each
    document's BPE symbols by segmenting the DISTINCT-WORD table once
    (vocab-sized rewrite; merges are literals) and joining per-word
    symbol counts back to the doc token stream (r16), then
    concat-and-chunk in doc_id order via the distributed prefix sum.
    Per sequence: docs starting in it, their BPE-token mass,
    boundary-straddlers, and the doc-id span. The oracle replays the
    learning chain, segments every vocab word relationally (the
    v-chain), joins the per-word symbol counts back to the doc token
    stream, and recomputes the same cumsum layout — bit-exact at
    every SF."""
    from .operators.bpe import bpe_symbols
    from .operators.dedup import tokens_col
    from .operators.packing import pack_sequences
    from .queries_ext37 import _bpe_merge_pairs, _bpe_words
    from .session import scale_out

    pairs = _bpe_merge_pairs(spark, sf)
    docs = scale_out(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )
    # r16 optimization (the r15 verdict's #4): count BPE symbols per
    # DISTINCT WORD, not per document. The r15 doc-level form ran the
    # 8-replace sentinel rewrite over every document's full text (~24
    # string passes over 3× the corpus bytes); the corpus's distinct-
    # word table (the stored counting cube, artifacts.bpe_word_freq —
    # the exact word supply the merges were learned from, same
    # tokenizer) is far smaller than the token stream, so the rewrite
    # now runs once per VOCAB ROW and per-doc counts come back through
    # an explode + word join + per-doc sum. Bit-identical: every
    # corpus token appears in the cube by construction (same
    # tokens_col over the same documents), so the join is lossless and
    # sum(ns per token) is exactly the doc's symbol count; docs with
    # zero tokens vanish from the aggregate, which pack_sequences'
    # n_tok > 0 filter dropped anyway. Oracle-verified bit-exact at
    # all three SFs (its dcnt CTE is literally this join). The word
    # join is left to the planner: vocab-bounded ⇒ broadcast locally;
    # at a 100-TB vocab the sort-merge fallback is the correct shape.
    wsym = _bpe_words(spark, sf).select(
        "word", F.size(bpe_symbols(F.col("word"), pairs)).alias("_ns")
    )
    sized = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("word"))
        .join(wsym, "word")
        .groupBy("doc_id")
        .agg(F.sum("_ns").cast("long").alias("n_tok"))
    )
    packed = pack_sequences(sized, "doc_id", "n_tok", BPE_SEQ_LEN)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bpe_tokens_started"),
            F.sum(
                F.when(F.col("end_seq_id") > F.col("seq_id"), 1).otherwise(0)
            ).alias("n_boundary_crossers"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def _bpe_vchain_ctes(n_merges: int = BPE_N_MERGES) -> list[str]:
    """The learning-chain CTEs plus a word-carrying segmentation
    chain (v0..v{n}) and the per-word symbol-count table ``wsym`` —
    shared by every oracle that needs the learned segmentation AT THE
    WORD LEVEL (chunks, compression). Each v-stage applies the same
    per-round LEFT-JOIN replace as the w-chain, so a short-merge
    corpus degrades identically to the engine."""
    from .queries_ext37 import _bpe_chain_ctes

    ctes, _ = _bpe_chain_ctes(n_merges)
    ctes.append(
        "v0 AS (SELECT word, ' ' || array_to_string(list_transform("
        "range(1, length(word) + 1),"
        " i -> substring(word, CAST(i AS INTEGER), 1)), '  ') || ' ' AS enc"
        " FROM wf)"
    )
    for k in range(1, n_merges + 1):
        ctes.append(
            f"v{k} AS (SELECT word, CASE WHEN l IS NULL THEN enc ELSE"
            f" replace(enc,"
            f" ' ' || l || '  ' || r || ' ',"
            f" ' ' || l || r || ' ') END AS enc"
            f" FROM v{k - 1} LEFT JOIN b{k} ON TRUE)"
        )
    ctes.append(
        f"wsym AS (SELECT word, len(string_split(trim(enc), '  ')) AS ns"
        f" FROM v{n_merges})"
    )
    return ctes


def _bpe_chunks_oracle(
    n_merges: int = BPE_N_MERGES, seq_len: int = BPE_SEQ_LEN
) -> str:
    """Replay the merge-learning chain (shared CTEs), then segment the
    VOCAB relationally — a v-chain that carries the word through the
    same per-round LEFT-JOIN replace, so a short-merge corpus
    degrades identically to the engine — and join per-word symbol
    counts to the doc token stream before the packing cumsum."""
    ctes = _bpe_vchain_ctes(n_merges)
    ctes.append(
        "dcnt AS (SELECT doc_id, CAST(SUM(ns) AS BIGINT) AS n_tok"
        " FROM toks JOIN wsym USING (word) GROUP BY doc_id)"
    )
    ctes.append(
        "off AS (SELECT doc_id, n_tok,"
        " COALESCE(SUM(n_tok) OVER (ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off"
        " FROM dcnt WHERE n_tok > 0)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(off // {seq_len} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens_started,
       CAST(SUM(CASE WHEN (off + n_tok - 1) // {seq_len} > off // {seq_len}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_crossers,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM off
GROUP BY 1
ORDER BY 1
"""
    )


@query
def q_pack_slices(spark: SparkSession, sf: str) -> DataFrame:
    """The trainer-facing half of sequence packing: materialize every
    (document, sequence) SLICE — which contiguous token range of each
    doc lands in which 128-token training sequence. q_seq_packing
    reports per-sequence statistics; the dataloader needs the inverse
    map (per doc: the sequences it feeds, the in-doc token offset and
    the slice length). Pure arithmetic on the distributed-prefix-sum
    offsets: a doc at global offset o with n tokens spans sequences
    o//L .. (o+n-1)//L, and its slice in sequence s is
    [max(sL, o), min((s+1)L, o+n)) — so the whole operator is the
    packing cumsum plus a zero-shuffle in-row sequence explode. The
    oracle recomputes the layout with a plain window cumsum and the
    same interval intersection, bit-exact."""
    from .operators.packing import with_global_offsets
    from .operators.text import tokenize
    from .queries_ext6 import SEQ_LEN
    from .session import scale_out

    docs = scale_out(
        load_table(spark, sf, "documents").select("doc_id", "text")
    ).select("doc_id", F.size(tokenize("text")).alias("n_tok"))
    off = with_global_offsets(
        docs.where(F.col("n_tok") > 0).withColumn(
            "n_tok", F.col("n_tok").cast("long")
        ),
        "doc_id",
        "n_tok",
    )
    L = int(SEQ_LEN)
    sl = off.select(
        "doc_id",
        "n_tok",
        "offset",
        F.explode(
            F.sequence(
                F.expr(f"offset div {L}"),
                F.expr(f"(offset + n_tok - 1) div {L}"),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * L, F.col("offset"))
    hi = F.least((F.col("seq_id") + 1) * L, F.col("offset") + F.col("n_tok"))
    return sl.select(
        "doc_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        (lo - F.col("offset")).cast("long").alias("tok_start"),
        (hi - lo).cast("long").alias("n_tok_in_seq"),
    ).orderBy("doc_id", "seq_id")


Q_PACK_SLICES_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
off AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks WHERE n_tok > 0
),
sl AS (
  SELECT doc_id, n_tok, CAST(off AS BIGINT) AS off,
         unnest(range(CAST(off // 128 AS BIGINT),
                      CAST((off + n_tok - 1) // 128 + 1 AS BIGINT))) AS seq_id
  FROM off
)
SELECT doc_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(seq_id * 128, off) - off AS BIGINT) AS tok_start,
       CAST(least((seq_id + 1) * 128, off + n_tok)
            - greatest(seq_id * 128, off) AS BIGINT) AS n_tok_in_seq
FROM sl
ORDER BY doc_id, seq_id
"""


_BASE_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + list(
    "0123456789"
)


@query(oracle=lambda: _wordpiece_oracle())
def q_wordpiece_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """The THIRD tokenizer family: WordPiece-style greedy
    longest-match serving (operators/bpe.greedy_segment) over the
    learned inventory — base alphabet plus the stored bpe_merges
    symbols. Reports the corpus-weighted top-50 symbols, the same
    shape as q_bpe_vocab, so the two serving rules' divergence
    (greedy longest-match vs merge-order replay — they differ where a
    long symbol spans a higher-priority merge boundary) is auditable
    side by side. Segmentation is a vocab-sized zero-shuffle
    projection (symbols are literals; the in-row fold carries a
    (pos, parts) cursor over each word). The oracle re-derives the
    inventory from the learning chain and replays greedy
    longest-match with a per-word recursive CTE over a materialized
    longest-match-length table."""
    from .operators.bpe import greedy_segment
    from .queries_ext37 import _bpe_merge_pairs, _bpe_words

    symbols = [l + r for l, r in _bpe_merge_pairs(spark, sf)] + _BASE_ALPHABET
    seg = _bpe_words(spark, sf).select(
        F.explode(greedy_segment(F.col("word"), symbols)).alias("symbol"),
        "freq",
    )
    return (
        seg.groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "symbol")
        .limit(50)
    )


def _wordpiece_oracle(n_merges: int = BPE_N_MERGES) -> str:
    """Replay the merge chain for the inventory, then greedy
    longest-match relationally: a materialized per-(word, position)
    longest-match-length table drives a recursive CTE whose cursor
    jumps by the matched length — the sequential rule a window
    cannot express (each step's position depends on every prior
    match)."""
    from .queries_ext37 import _bpe_chain_ctes

    ctes, _ = _bpe_chain_ctes(n_merges)
    merged_union = " UNION ALL ".join(
        f"SELECT l || r AS sym FROM b{k}" for k in range(1, n_merges + 1)
    )
    ctes.append(
        f"vocab AS MATERIALIZED ({merged_union}"
        " UNION ALL SELECT chr(CAST(c AS INTEGER)) AS sym"
        " FROM (SELECT unnest(range(97, 123)) AS c)"
        " UNION ALL SELECT CAST(d AS VARCHAR) AS sym"
        " FROM (SELECT unnest(range(0, 10)) AS d))"
    )
    ctes.append(
        "wpos AS MATERIALIZED (SELECT word,"
        " CAST(unnest(range(1, length(word) + 1)) AS INTEGER) AS p FROM wf)"
    )
    ctes.append(
        "cand AS MATERIALIZED ("
        "SELECT wpos.word, wpos.p, MAX(length(v.sym)) AS len"
        " FROM wpos JOIN vocab v"
        " ON substring(wpos.word, wpos.p, length(v.sym)) = v.sym"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "seg AS ("
        "SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS parts, freq FROM wf"
        " UNION ALL"
        " SELECT s.word, s.pos + c.len,"
        " list_append(s.parts, substring(s.word, s.pos, c.len)), s.freq"
        " FROM seg s JOIN cand c ON c.word = s.word AND c.p = s.pos"
        " WHERE s.pos <= length(s.word))"
    )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + """
SELECT sym AS symbol, CAST(SUM(freq) AS BIGINT) AS n
FROM (SELECT unnest(parts) AS sym, freq FROM seg
      WHERE pos = length(word) + 1)
GROUP BY 1
ORDER BY n DESC, symbol
LIMIT 50
"""
    )


@query(oracle=lambda: _bpe_compression_oracle())
def q_bpe_compression(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility / compression audit per language — the
    numbers a tokenizer team tracks before committing a vocab to a
    100-TB run: chars per BPE token (compression) and BPE tokens per
    word (fertility), weighted by corpus frequency. Served entirely
    from the counting cube + the stored merge table (zero corpus
    scan): per-(word, lang) counts come from cube cells and each
    word's symbol count is the in-row literal rewrite. Ratios are
    int/int doubles rounded to 9 (the cross-engine float contract);
    the oracle replays the chain and recomputes the same weighted
    sums from the raw corpus."""
    from .artifacts import token_lang_counts
    from .operators.bpe import bpe_symbols
    from .queries_ext37 import _bpe_merge_pairs

    pairs = _bpe_merge_pairs(spark, sf)
    cube = token_lang_counts(spark, sf)
    agg = cube.groupBy("lang").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.length("w")).alias("n_chars"),
        F.sum(
            F.col("c") * F.size(bpe_symbols(F.col("w"), pairs))
        ).alias("n_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 9).alias(
            "chars_per_token"
        ),
        F.round(F.col("n_bpe_tokens") / F.col("n_words"), 9).alias(
            "fertility"
        ),
    ).orderBy("lang")


def _bpe_compression_oracle(n_merges: int = BPE_N_MERGES) -> str:
    ctes = _bpe_vchain_ctes(n_merges)
    ctes.append(
        "tl AS (SELECT lang,"
        " unnest(list_filter(string_split_regex(lower(text),"
        " '[^a-z0-9]+'), t -> t <> '')) AS word FROM documents)"
    )
    ctes.append(
        "lwf AS (SELECT lang, word, COUNT(*) AS c FROM tl GROUP BY 1, 2)"
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(c * ns) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(c * length(word)) AS BIGINT)
             / CAST(SUM(c * ns) AS BIGINT), 9) AS chars_per_token,
       ROUND(CAST(SUM(c * ns) AS BIGINT)
             / CAST(SUM(c) AS BIGINT), 9) AS fertility
FROM lwf JOIN wsym USING (word)
GROUP BY lang
ORDER BY lang
"""
    )
