"""Seeded synthetic inputs for the benchmark workloads.

Everything here is pure NumPy / PyArrow: the same seed yields the same
arrays and the same parquet bytes, and no Spark session is needed, so the
generator is testable on its own. Three families:

- planted-cluster vectors (unit-norm, tight clusters around random unit
  centres) so that ANN recall against exact top-k is meaningful;
- a text corpus with planted near-duplicate clusters (the ground truth for
  the MinHash / SimHash dedup pipeline);
- a hot-key event stream, a unit-repeating document stream and a labelled
  vector stream, split into time-ordered parquet files for availableNow
  replays.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed base for stream-file mtimes: FileStreamSource admits files
# oldest-mtime-first, and a constant base keeps the files byte- and
# order-identical across runs.
_MTIME_BASE = 1_600_000_000
_EVENT_TYPES = ("view", "click", "purchase")


@dataclass
class Vectors:
    ids: list[str]
    x: np.ndarray  # (n, d) float32, unit-norm rows
    labels: np.ndarray  # (n,) planted cluster of each row
    centres: np.ndarray  # (c, d) float64, unit-norm


def planted_vectors(
    seed: int, n: int, d: int, clusters: int, *, noise: float = 0.35,
    prefix: str = "v",
) -> Vectors:
    """`n` unit vectors in `clusters` tight clusters; ids are zero-padded so
    string order equals row order."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((clusters, d))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    x = centres[labels] + noise * rng.standard_normal((n, d)) / np.sqrt(d)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    ids = [f"{prefix}{i:06d}" for i in range(n)]
    return Vectors(ids, x.astype(np.float32), labels, centres)


def queries_near(
    seed: int, centres: np.ndarray, n: int, *, noise: float = 0.35
) -> np.ndarray:
    """`n` query vectors drawn around the planted centres (round-robin)."""
    rng = np.random.default_rng(seed)
    d = centres.shape[1]
    q = centres[np.arange(n) % len(centres)] + noise * rng.standard_normal(
        (n, d)
    ) / np.sqrt(d)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.astype(np.float32)


def embedding_rows(v: Vectors, lo: int = 0, hi: int | None = None) -> list[tuple]:
    """Rows in the full `EMBEDDING_SCHEMA` column order
    (id, value, vector, vectors, binary_vector, metadata). `metadata.tier`
    is the planted label mod 4 — the `where=` predicate's column."""
    hi = len(v.ids) if hi is None else hi
    return [
        (
            v.ids[i], v.ids[i], v.x[i].tolist(), None, None,
            {"tier": str(int(v.labels[i]) % 4)},
        )
        for i in range(lo, hi)
    ]


@dataclass
class Corpus:
    doc_ids: np.ndarray  # (n,) int64
    texts: list[str]
    clusters: list[list[int]]  # planted near-duplicate groups (doc ids)


def neardup_corpus(
    seed: int, n_docs: int, n_clusters: int, *, cluster_size: int = 3,
    doc_len: int = 80, vocab: int = 5000, mutate: float = 0.02,
) -> Corpus:
    """`n_docs` random documents; `n_clusters` of them are sources, each
    copied `cluster_size - 1` times with `mutate` of the tokens replaced.
    Copies get ids after all originals, so a cluster's minimum id is its
    source."""
    rng = np.random.default_rng(seed)
    n_orig = n_docs - n_clusters * (cluster_size - 1)
    toks = rng.integers(0, vocab, (n_orig, doc_len))
    texts = [" ".join(f"t{t}" for t in row) for row in toks]
    clusters = []
    nxt = n_orig
    for c in range(n_clusters):
        group = [c]
        for _ in range(cluster_size - 1):
            row = toks[c].copy()
            pos = rng.choice(doc_len, max(1, int(doc_len * mutate)), replace=False)
            row[pos] = rng.integers(vocab, 2 * vocab, len(pos))
            texts.append(" ".join(f"t{t}" for t in row))
            group.append(nxt)
            nxt += 1
        clusters.append(group)
    return Corpus(np.arange(n_docs, dtype=np.int64), texts, clusters)


def _write_ordered(table: pa.Table, path: str, i: int) -> None:
    pq.write_table(table, path)
    t = _MTIME_BASE + 2 * i
    os.utime(path, (t, t))


def event_stream(
    seed: int, out_dir: str, n_files: int, rows_per_file: int, *,
    users: int = 200,
) -> None:
    """Hot-key event stream: Zipf user ids, strictly ascending event ids
    and timestamps across files (file i precedes file i+1)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        eid = np.arange(f * rows_per_file, (f + 1) * rows_per_file, dtype=np.int64)
        table = pa.table({
            "event_id": eid,
            "user_id": (rng.zipf(1.4, rows_per_file) % users).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 3, rows_per_file)],
            "ts": pa.array(
                (1_700_000_000_000_000 + eid * 1000).astype("datetime64[us]")
            ),
            "value": rng.random(rows_per_file),
        })
        _write_ordered(table, os.path.join(out_dir, f"{f:04d}.parquet"), f)


def unit_doc_stream(
    seed: int, out_dir: str, n_files: int, docs_per_file: int, *,
    window: int, units_per_doc: int = 4, pool: int = 400,
) -> None:
    """Documents assembled from a Zipf-drawn pool of `window`-token units,
    so units repeat within and across files; doc ids ascend across files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    units = [
        " ".join(f"u{t}" for t in rng.integers(0, 10_000, window))
        for _ in range(pool)
    ]
    for f in range(n_files):
        ids = np.arange(f * docs_per_file, (f + 1) * docs_per_file, dtype=np.int64)
        picks = rng.zipf(1.3, (docs_per_file, units_per_doc)) % pool
        texts = [" ".join(units[p] for p in row) for row in picks]
        _write_ordered(
            pa.table({"doc_id": ids, "text": texts}),
            os.path.join(out_dir, f"{f:04d}.parquet"), f,
        )


def vector_stream(
    seed: int, out_dir: str, n_files: int, rows_per_file: int, *,
    dim: int, labels: int = 8,
) -> None:
    """Labelled float32 vectors for the running moment-stats gate."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        x = rng.standard_normal((rows_per_file, dim)).astype(np.float32)
        table = pa.table({
            "label": rng.integers(0, labels, rows_per_file).astype(np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        })
        _write_ordered(table, os.path.join(out_dir, f"{f:04d}.parquet"), f)


def read_dir(path: str) -> pa.Table:
    """All parquet files of a stream directory, in file order."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables(pq.read_table(os.path.join(path, f)) for f in files)
