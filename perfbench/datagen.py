"""Deterministic generator for the benchmark's input table.

``llm_pipeline`` reads one table, ``documents``. Its shape is fitted to the
engine's sf0.001–sf0.1 test data, measured table by table (the figures,
real beside generated, are in README.md "Inputs"):

- ``max(500, 50,000 × sf)`` documents; ``source`` is ``src<doc_id % 20>``,
  ``lang`` is ``en`` with probability 0.4 and each of four others 0.15;
- each text is 10–99 words drawn uniformly from a 30-word vocabulary;
- then, one by one, ``n // 20`` distinct documents are overwritten with
  another document's current text plus the word ``dup``. Because the
  copy reads the current text, a copy of a copy carries two ``dup``s and
  a copied document may itself be overwritten later, as in the test data.

The table is a directory ``documents.parquet/part-0.parquet``. It depends
only on ``sf`` and ``DATA_SEED``, so a stored reference fingerprint stays
valid for every benchmark seed.

    python3 perfbench/datagen.py <out_dir> <sf>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_P = ["de", "en", "es", "fr", "zh"], [0.15, 0.4, 0.15, 0.15, 0.15]


def documents(sf: float) -> pa.Table:
    rng = np.random.default_rng(DATA_SEED)
    n = max(500, int(50_000 * sf))
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write(out_dir: str, sf: float) -> None:
    """Write the table under ``out_dir``; a finished directory holds a
    ``_DONE`` marker, so an interrupted write is redone, not reused."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    d = os.path.join(out_dir, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(documents(sf), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(out_dir, "_DONE"), "w") as f:
        f.write(f"sf={sf} data_seed={DATA_SEED}\n")


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
