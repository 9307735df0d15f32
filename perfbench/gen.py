"""Seeded input generators.

Every input the engine sees is written here from a ``numpy`` stream
seeded by the run's ``--seed``: the same seed gives the same files.
Shapes follow the repository's sf0.1 synthetic tables (orders,
lineitem, documents, embeddings), so the registry's corpus keys and
their DuckDB oracles run unchanged against the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Keboola manifest columns of the orders inputs:
#: (name, base type, NUMERIC length).
ORDERS_COLUMNS = [
    ("o_orderkey", "INTEGER", None),
    ("o_custkey", "INTEGER", None),
    ("o_orderstatus", "STRING", None),
    ("o_totalprice", "NUMERIC", "12,2"),
    ("o_orderdate", "DATE", None),
    ("o_orderpriority", "STRING", None),
]
ORDERS_KEY = "o_orderkey"

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EPOCH = np.datetime64("1992-01-01", "D")

#: the sf0.1 documents vocabulary (30 words, two of them stopwords)
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _decimal_12_2(cents: np.ndarray) -> pa.Array:
    """Non-negative integer cents as an exact ``decimal(12,2)`` array."""
    raw = np.zeros((len(cents), 2), dtype=np.int64)
    raw[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(12, 2), len(cents), [None, pa.py_buffer(raw.tobytes())]
    )


def orders_table(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """Orders-shaped rows for the given order keys, typed as the cast
    projection types them (BIGINT, DECIMAL(12,2), DATE)."""
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, 15_001, n),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
            "o_totalprice": _decimal_12_2(rng.integers(90_000, 50_000_000, n)),
            "o_orderdate": _EPOCH + rng.integers(0, 2_400, n).astype(
                "timedelta64[D]"
            ),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        }
    )


def write_csv_slices(
    table: pa.Table, out_dir: str, n_slices: int
) -> tuple[list[str], pa.Table]:
    """Split ``table`` in order into ``n_slices`` header-less CSV files.

    Returns the paths and the table extended with the two columns the
    preserve-insertion-order scan derives: ``_slice_idx`` (position in
    the slice list) and ``_row_in_slice`` (line number in the slice).
    """
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_slices + 1).astype(int)
    paths, slice_idx, row_in_slice = [], [], []
    for i in range(n_slices):
        n = int(bounds[i + 1] - bounds[i])
        p = os.path.join(out_dir, f"slice{i:03d}.csv")
        pacsv.write_csv(
            table.slice(bounds[i], n), p,
            pacsv.WriteOptions(include_header=False),
        )
        paths.append(p)
        slice_idx.append(np.full(n, i, dtype=np.int32))
        row_in_slice.append(np.arange(n, dtype=np.int64))
    return paths, table.append_column(
        "_slice_idx", pa.array(np.concatenate(slice_idx))
    ).append_column("_row_in_slice", pa.array(np.concatenate(row_in_slice)))


def upsert_batch_keys(
    rng: np.random.Generator, n_target: int, next_key: int,
    update_frac: float, insert_frac: float,
) -> np.ndarray:
    """Keys of one upsert batch: ``update_frac`` of the target's
    original keys (distinct) and ``insert_frac`` new keys from
    ``next_key`` up, shuffled together."""
    updates = rng.choice(n_target, int(n_target * update_frac), replace=False)
    inserts = np.arange(next_key, next_key + int(n_target * insert_frac))
    keys = np.concatenate([updates, inserts])
    rng.shuffle(keys)
    return keys


def lineitem_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n // 4, n),
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": (
                _EPOCH + rng.integers(0, 2_500, n).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )


def documents_table(
    rng: np.random.Generator, n: int, n_near_dups: int, n_exact_dups: int
) -> pa.Table:
    """Random-word documents of 10-100 words. ``n_near_dups`` of them
    copy an earlier document and append one word (MinHash pairs), and
    ``n_exact_dups`` copy one verbatim (exact-dedup hits)."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in lengths]
    copies = rng.choice(
        np.arange(n // 2, n), n_near_dups + n_exact_dups, replace=False
    )
    for j, i in enumerate(copies):
        src = texts[int(rng.integers(0, n // 2))]
        texts[i] = src + " dup" if j < n_near_dups else src
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten labelled centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    v = centroids[labels] + rng.normal(scale=2.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def write_corpus_tables(
    rng: np.random.Generator, out_dir: str, n_lineitem: int, n_docs: int,
    n_vectors: int,
) -> dict[str, int]:
    """The tables the corpus keys read, as ``<name>.parquet`` (the
    layout ``tables.load_table`` expects). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "lineitem": lineitem_table(rng, n_lineitem),
        "documents": documents_table(rng, n_docs, n_docs // 20, 8),
        "embeddings": embeddings_table(rng, n_vectors),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
