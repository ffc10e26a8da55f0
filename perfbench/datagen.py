"""Seeded ``documents`` corpus for the corpus workload.

The same seed always gives a byte-identical table; different seeds give
corpora of the same size and distribution, so run-to-run differences
come from the program, not from the amount of work.

Every parameter was measured on the sf0.1 ``documents`` table the
package is tested against:

- 5,000 documents, ``doc_id`` 0..4999, ``source`` ``src{doc_id % 20}``;
- 10 to 99 space-separated words per document, uniform (mean 54),
  each drawn uniformly from the same 30-word vocabulary;
- languages en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%;
- exactly 5% of documents are near-duplicates: another document's text
  plus one ``dup`` token (98.4%; two 1.2%, three 0.4%), at random
  positions, so the dedup and similarity queries find real pairs;
- ``n_chars`` is the text length.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS = 5000
NEAR_DUP_SHARE = 0.05
DUP_TOKENS = ([1, 2, 3], [0.984, 0.012, 0.004])
LANGS = (["en", "zh", "es", "fr", "de"], [0.412, 0.151, 0.149, 0.148, 0.140])
WORDS = (
    "a the agg batch big column customer data filter fast group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def documents(seed: int) -> pa.Table:
    n = N_DOCUMENTS
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    dups = rng.choice(n, round(n * NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        k = int(rng.choice(DUP_TOKENS[0], p=DUP_TOKENS[1]))
        texts[i] = texts[int(rng.choice(originals))] + " dup" * k
    langs = rng.choice(LANGS[0], n, p=np.array(LANGS[1]) / sum(LANGS[1]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed), os.path.join(out_dir, "documents.parquet"))
