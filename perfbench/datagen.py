"""Seeded generators for the benchmark's input tables.

Every table has the column names and Arrow types of the repository's test
tables the declared queries read (``schemas.TABLE_SCHEMAS``), so the queries and
their DuckDB oracles run on the output unchanged.  The same seed always
gives byte-identical parquet files.

Distributions follow the fixture descriptions in FIXTURES.md:

- ``customer`` keys are dense ``0..n-1``; the graph queries derive their
  edges from the keys alone, so the fuzzy-name graph is a function of
  ``n`` and the seed only moves the other columns;
- ``documents`` draw 10-100 tokens from a 30-word vocabulary, and one
  document in twenty is a copy of another with `` dup`` appended (the
  near-duplicates the dedup operators look for);
- ``embeddings`` are unit-normalised 64-d Gaussian vectors with a label
  in 0..9.

``enrollment`` builds the patient-migration input: a ``customer``-shaped
client table with sparse, shuffled keys, and a ``migrated`` table mapping
a fifth of those clients to patient ids already in the destination.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

SCHEMAS = {
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
    "migrated": pa.schema([("client_id", pa.int64()), ("patient_id", pa.int64())]),
}

# one independent stream per table, so adding a table never shifts another
_STREAM = {"customer": 1, "documents": 2, "embeddings": 3, "enrollment": 4}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[table]])


def _write(out_dir: str, name: str, columns: dict, row_group_size: int | None = None) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.Table.from_pydict(columns, schema=SCHEMAS[name])
    pq.write_table(table, path, row_group_size=row_group_size)
    return path


def nation(out_dir: str) -> str:
    keys = np.arange(25, dtype=np.int32)
    return _write(
        out_dir,
        "nation",
        {"n_nationkey": keys, "n_name": [f"NATION_{k}" for k in keys], "n_regionkey": keys % 5},
    )


def _customer_columns(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    }


def customer(out_dir: str, seed: int, n: int) -> str:
    rng = _rng(seed, "customer")
    return _write(out_dir, "customer", _customer_columns(rng, np.arange(n)))


def documents(out_dir: str, seed: int, n: int) -> str:
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n)
    return _write(
        out_dir,
        "documents",
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )


def embeddings(out_dir: str, seed: int, n: int, dim: int = 64) -> str:
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n),
            "embedding": list(x),
            "label": rng.integers(0, 10, n).astype(np.int32),
        },
    )


def enrollment(out_dir: str, seed: int, n: int, migrated_share: float = 0.2) -> dict:
    """The migration source (as ``customer``), the destination's
    ``migrated`` client→patient map, and the ``nation`` dimension.

    Client keys are ``n`` distinct values below ``4n`` in random row
    order, so surrogate-key assignment has to sort for real.  The
    migrated fifth holds patient ids ``base+1 .. base+m`` in random
    order; new patient ids must start above ``base+m``."""
    rng = _rng(seed, "enrollment")
    keys = rng.permutation(4 * n)[:n]
    # several row groups, so the scan splits across cores
    src = _write(out_dir, "customer", _customer_columns(rng, keys), max(1, n // 16))
    m = int(n * migrated_share)
    moved = rng.choice(keys, m, replace=False)
    base = int(rng.integers(1_000, 100_000))
    mig = _write(
        out_dir,
        "migrated",
        {"client_id": moved.astype(np.int64), "patient_id": base + 1 + rng.permutation(m)},
    )
    return {"customer": src, "migrated": mig, "nation": nation(out_dir)}
