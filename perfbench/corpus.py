"""Seeded read-only corpus for the ``query_mix`` workload.

Writes the ``documents`` table the dedup queries read, in the layout
``greenplum_dwh_spark.sources.tpch`` loads: 500 documents over a
30-word vocabulary with planted near-duplicates, shaped like the
repository's sf0.01 test dataset. Every value is a function of the
seed. It is written with pyarrow: a Spark job would be the cold
session's first and cost ~6 s of the run's budget.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def documents(seed: int, n_docs: int) -> pa.Table:
    """Docs of 10-95 words; about every 10th doc (from the 10th on)
    copies one of the 9 docs before it, rewrites one word and appends
    ``dup``."""
    rng = random.Random(seed)
    words: list[list[str]] = []
    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.1:
            w = list(words[d - 1 - rng.randrange(9)])
            w[rng.randrange(len(w))] = rng.choice(WORDS)
            text = " ".join(w) + " dup"
        else:
            w = rng.choices(WORDS, k=rng.randint(10, 95))
            text = " ".join(w)
        words.append(w)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(seed: int, out_dir: str, n_docs: int = 500) -> str:
    """Write ``out_dir/documents.parquet`` as one file (the DuckDB oracle
    reads single files); returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    return out_dir
