"""Seeded `documents` generator for the benchmark.

Writes one parquet file with the schema of the sf0.1 test-data
``documents`` table — ``doc_id bigint, text string, lang string,
source string, n_chars bigint`` — so every engine query and every DuckDB
oracle applies unchanged.

Shape, matched to that table:

* ``doc_id`` is fresh and sequential (0..n-1). The corpus derives its
  skew from ids alone (``doc_id % 97 == 0`` → 64x, ``% 13 == 0`` → 8x,
  see ``corpus.MULT_SQL``), so sequential ids keep the heavy documents
  at the same ~1% / ~7% share.
* ``text`` is 10-99 words drawn from the same 30-word vocabulary. The
  word count is a fixed function of ``doc_id`` (uniform over 10-99,
  period 90) and only the words depend on the seed: the heavy documents
  dominate the work of a small input, so a seed must not change their
  length.
* ``DUP_SHARE`` of documents copy an earlier document's text exactly
  (the dedup window's first-occurrence gate has work to do), always one
  of the same word count, and ``NEAR_DUP_SHARE`` append the marker word
  ``dup``, as that table does.
* ``lang`` is ``en`` for ~41% and one of de/es/fr/zh otherwise;
  ``source`` is ``src<doc_id % 20>``; ``n_chars`` is ``len(text)``.

The same ``(seed, rows)`` always gives a byte-identical file.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
DUP_SHARE = 0.01
NEAR_DUP_SHARE = 0.05

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


LENGTH_PERIOD = 90


def n_words(doc_id: int) -> int:
    return 10 + (doc_id * 7919) % LENGTH_PERIOD


def documents(seed: int, rows: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(rows):
        if i >= LENGTH_PERIOD and rng.random() < DUP_SHARE:
            text = texts[i - LENGTH_PERIOD * rng.randint(1, i // LENGTH_PERIOD)]
        else:
            text = " ".join(rng.choices(VOCAB, k=n_words(i)))
            if rng.random() < NEAR_DUP_SHARE:
                text += " dup"
        texts.append(text)
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=rows)
    return pa.table(
        {
            "doc_id": list(range(rows)),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(rows)],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMA,
    )


def write_documents(seed: int, rows: int, out_dir: str) -> dict:
    """Write ``<out_dir>/documents.parquet`` and describe it."""
    os.makedirs(out_dir, exist_ok=True)
    table = documents(seed, rows)
    path = os.path.join(out_dir, "documents.parquet")
    # one row group, like the test data's KB-sized files
    pq.write_table(table, path, row_group_size=rows, compression="snappy")
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    texts = table.column("text").to_pylist()
    return {
        "seed": seed,
        "rows": rows,
        "pages": rows,
        "bytes": os.path.getsize(path),
        "sha256": digest,
        "exact_dup_share": round(1 - len(set(texts)) / rows, 4),
        "near_dup_share": round(sum(t.endswith(" dup") for t in texts) / rows, 4),
    }
