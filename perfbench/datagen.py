"""Deterministic generator of the corpus tables the ``query_resident``
workload serves.

The tables follow the schemas the query registry reads (``documents``
and ``embeddings``, the only two the resident queries touch), one
single-row-group parquet file per table.  The data seed is fixed
(``DATA_SEED``): the expected output hashes (``expected.json``) are
computed once from the DuckDB oracle over exactly these bytes, so the
workload seed only permutes the query order, never the data.

Generation is cached per scale factor under the work directory and
published with an atomic rename, so only the first run in a checkout
pays for it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated bytes change: expected.json is keyed on it
GENERATOR_VERSION = 2

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
VOCAB = (
    "a the row key value table part hash scan slow fast merge batch spark "
    "line sort window data column agg join small big customer query order "
    "stream group filter vector"
).split()
EMB_DIM = 64
N_LABELS = 10

TABLES = ["documents", "embeddings"]


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; about 5% are
    near-copies of an earlier document (a few words substituted, a
    ``dup`` token appended), so the dedup and retrieval families find
    real clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words = [w for w in words if w != "dup"]
            n_sub = int(rng.integers(0, 3))
            for _ in range(n_sub):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            words.append("dup")
        else:
            k = int(rng.integers(10, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around one random centre per label, so a linear
    probe separates classes imperfectly and IVF cells are non-trivial."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = 0.6 * centres[labels] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": labels,
        }
    )


def generate_tables(sf: float) -> dict[str, pa.Table]:
    """Both tables at scale factor ``sf`` (50k x sf documents, 20k x sf
    embeddings, the registry's test-data proportions)."""
    rng = np.random.default_rng(DATA_SEED)
    return {
        "documents": _documents(rng, max(200, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }


def ensure_dataset(work_dir: str, sf: float) -> str:
    """Return the directory holding every table at ``sf``, generating
    it on first use (write to a temp dir, then rename into place)."""
    final = os.path.join(work_dir, "data", f"v{GENERATOR_VERSION}_sf{sf}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(sf).items():
        pq.write_table(
            table,
            os.path.join(tmp, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    os.rename(tmp, final)
    return final


def table_cells(sf_dir: str) -> tuple[int, int]:
    """(cells, on-disk bytes) of every table, from parquet footers
    only."""
    cells = size = 0
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        md = pq.ParquetFile(path).metadata
        cells += md.num_rows * md.num_columns
        size += os.path.getsize(path)
    return cells, size
