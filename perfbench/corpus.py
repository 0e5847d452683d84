"""Seeded document corpus for the ``curation_corpus`` workload.

Built the way the engine's testdata ``documents`` table is built, so a
seed gives the same stage keep rates and near-duplicate cluster shapes
as that table (measured side by side in ``DESIGN.md``):

* ``doc_id`` 0..n-1, ``source`` ``src{doc_id % 20}``, ``n_chars`` the
  text length;
* ``lang`` ``en`` with weight 0.4, ``de``/``es``/``fr``/``zh`` 0.15 each;
* text: 10 to 99 words drawn uniformly from a 30-word vocabulary;
* near-duplicates: one row in 20 is overwritten with another row's text
  plus `` dup``. Rows are overwritten one after another, so a copy of a
  copy ends in ``dup dup`` and two copies of one row are exact
  duplicates, as in the testdata table.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark query table join group sort scan hash filter window "
    "stream batch merge agg order row column key value part line vector "
    "customer fast slow big small"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_EVERY = 20


def documents(seed: int, n: int) -> list[tuple[int, str, str, str, int]]:
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 99))) for _ in range(n)]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    for i in rng.sample(range(n), n // NEAR_DUP_EVERY):
        j = rng.randrange(n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return [(i, t, langs[i], f"src{i % 20}", len(t)) for i, t in enumerate(texts)]


def write_documents(seed: int, n: int, sf_dir: str) -> str:
    """Write ``documents.parquet`` under ``sf_dir`` (the layout
    ``harness.tables.table`` reads) and return its path."""
    rows = documents(seed, n)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
