"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files (pyarrow writes no timestamps
into a footer). Nothing is downloaded. Each returns a ``shape`` dict that
the benchmark prints beside its metrics, so a reader knows what was
measured.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# letters only: the BM25 tokenizer keeps alphabetic runs
_SYLLABLES = [
    c + v
    for c in "bdfgklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def _file_shape(paths: list[str]) -> dict:
    rgs = 0
    for p in paths:
        rgs += pq.ParquetFile(p).metadata.num_row_groups
    return {
        "files": len(paths),
        "row_groups": rgs,
        "bytes": sum(os.path.getsize(p) for p in paths),
    }


def wide_root(root: str, seed: int, n_files: int, n_parts: int, rows: int = 64) -> dict:
    """A Hive-partitioned root of ``n_files`` small parquet files spread
    over ``n_parts`` ``part=<i>`` directories: 12 columns of mixed types,
    two row groups per file."""
    rng = np.random.default_rng(seed)
    paths = []
    for i in range(n_files):
        ids = rng.integers(0, 1 << 40, rows)
        words = rng.choice(_SYLLABLES, size=(rows, 3))
        t = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "qty": pa.array(rng.integers(0, 100, rows), pa.int32()),
                "price": pa.array(rng.random(rows) * 1000, pa.float64()),
                "ratio": pa.array(rng.random(rows), pa.float32()),
                "flag": pa.array(rng.random(rows) < 0.5, pa.bool_()),
                "code": pa.array(rng.integers(-30000, 30000, rows), pa.int16()),
                "day": pa.array(rng.integers(0, 20000, rows).astype("int32"), pa.date32()),
                "ts": pa.array(rng.integers(0, 1 << 50, rows), pa.timestamp("us")),
                "name": pa.array(["".join(w) for w in words], pa.string()),
                "tag": pa.array(words[:, 0], pa.string()),
                "blob": pa.array([w.encode() for w in words[:, 1]], pa.binary()),
                "maybe": pa.array(
                    np.where(rng.random(rows) < 0.3, None, ids % 1000), pa.int64()
                ),
            }
        )
        d = os.path.join(root, f"part={i % n_parts}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"f{i:05d}.parquet")
        pq.write_table(t, p, row_group_size=rows // 2)
        paths.append(p)
    shape = _file_shape(paths)
    shape["partitions"] = n_parts
    return shape


def paged_files(root: str, seed: int, n_files: int, rows: int) -> dict:
    """``n_files`` parquet files cut into very many small pages (no
    dictionary, 128-row write batches, 512-byte data pages, page index
    written), so per-file page-header work dominates a scan."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    paths = []
    for i in range(n_files):
        t = pa.table(
            {
                "a": pa.array(rng.integers(0, 1 << 60, rows), pa.int64()),
                "b": pa.array(rng.random(rows), pa.float64()),
                "c": pa.array(rng.integers(0, 1 << 20, rows).astype("int32"), pa.int32()),
            }
        )
        p = os.path.join(root, f"p{i:03d}.parquet")
        pq.write_table(
            t,
            p,
            row_group_size=rows // 2,
            use_dictionary=False,
            write_batch_size=128,
            data_page_size=512,
            write_page_index=True,
        )
        paths.append(p)
    return _file_shape(paths)


def corpus(
    root: str,
    seed: int,
    n: int,
    dim: int = 64,
    n_clusters: int = 8,
    vocab: int = 3000,
) -> dict:
    """A clustered embedding table (``vec_id``, ``embedding``) and a
    Zipf-vocabulary document table (``doc_id``, ``text``) over the same
    ``n`` ids, written as ``embeddings.parquet`` and ``documents.parquet``.

    The seed moves values, not structure: cluster sizes, the multiset of
    document lengths and the word-frequency curve are the same for every
    seed, so the work an index does varies little from seed to seed. The
    shape's ``words_by_rank`` lists the vocabulary from most to least
    frequent."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    centers = rng.normal(size=(n_clusters, dim))
    assign = rng.permutation(np.arange(n) % n_clusters)
    vecs = (centers[assign] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    emb = pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    words = np.array(_vocab_words(rng, vocab))
    weights = 1.0 / np.arange(1, vocab + 1) ** 1.1
    weights /= weights.sum()
    lens = rng.permutation(12 + np.arange(n) % 36)
    texts = [" ".join(rng.choice(words, size=k, p=weights)) for k in lens]
    docs = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())})
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    return {
        "vectors": n,
        "dim": dim,
        "docs": n,
        "vocab": vocab,
        "bytes": sum(dim * 4 + len(t.encode()) for t in texts),
        "words_by_rank": list(words),
    }


def _vocab_words(rng, n: int) -> list[str]:
    """``n`` distinct alphabetic pseudo-words drawn from the seeded rng."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(rng.choice(_SYLLABLES, size=k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out
