"""Output checks, run outside the timed region.

Query results are compared with the DuckDB oracle SQL the package
registers for each query (or, for the all-pairs oracle, an equivalent
faster form): same row count, same column names and the same
order-insensitive multiset of row values (floats bit-exact).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(columns: list[str], rows: list[tuple]) -> tuple:
    """Columns sorted by name, rows as a sorted multiset of values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(repr(x) for x in t),
    )
    return tuple(sorted(columns)), len(rows), tuple(body)


# q_minhash_pairs' registered oracle scores every pair of documents: about
# 13 s at 500 documents and quadratic, so hours at the 5,000 of a run.
# This one scores only pairs that share a shingle. A pair with Jaccard
# >= 0.5 shares one, and its Jaccard is the same ratio of the same two
# integers, so the answer is identical, floats included (checked against
# the registered oracle on generated corpora of 500 and 1,500 documents).
PAIR_ORACLES = {
    "q_minhash_pairs": """
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
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
shingles AS (SELECT doc_id, unnest(sh) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS k
  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(k AS DOUBLE) / (na.n + nb.n - k) >= 0.5
""",
}


def oracles(names: list[str]) -> dict[str, str]:
    """The oracle SQL of each query: the package's, or the equivalent
    pair-join form above."""
    from crypto_price_data_pipeline_spark.queries import ORACLES

    return {q: PAIR_ORACLES.get(q) or ORACLES[q] for q in names}


def expected(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Canonical DuckDB answer of every oracle SQL over the tables in
    ``data_dir`` (one parquet file per table)."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            name = f.removesuffix(".parquet")
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        answers = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            answers[name] = canonical(list(rel.columns), rel.fetchall())
        return answers
    finally:
        con.close()
