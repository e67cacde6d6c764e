"""Seeded inputs and their ground truth.

Everything here is numpy driven by one ``numpy.random.Generator`` built from
the run's seed, so the same seed gives byte-identical inputs.  The engine
never sees these arrays: the workloads write them to parquet and hand the
engine only the files.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class VectorSet:
    labels: np.ndarray  # int64, distinct
    x: np.ndarray  # float32 (n, d)


def mixture(rng: np.random.Generator, n: int, d: int, centers: np.ndarray) -> np.ndarray:
    """Gaussian mixture: unit-variance blobs around ``centers``."""
    pick = rng.integers(0, len(centers), n)
    return (centers[pick] + rng.standard_normal((n, d), dtype=np.float32)).astype(
        np.float32
    )


def corpus_and_queries(
    rng: np.random.Generator, n: int, d: int, nq: int, n_centers: int
) -> tuple[VectorSet, np.ndarray]:
    """A clustered corpus with distinct, shuffled int64 labels and ``nq``
    fresh queries drawn from the same mixture."""
    centers = rng.standard_normal((n_centers, d), dtype=np.float32) * 4.0
    x = mixture(rng, n, d, centers)
    labels = rng.permutation(n).astype(np.int64) * 3 + 1
    q = mixture(rng, nq, d, centers)
    return VectorSet(labels, x), q


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, id_col: str, vec_col: str) -> None:
    d = x.shape[1]
    vec = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), d).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(pa.table({id_col: pa.array(ids, pa.int64()), vec_col: vec}), path)


def l2_topk(q: np.ndarray, x: np.ndarray, k: int, chunk: int = 256) -> tuple[np.ndarray, np.ndarray]:
    """Exact squared-L2 top-k (row indices into ``x``, distances), float64."""
    xd = x.astype(np.float64)
    xx = np.einsum("ij,ij->i", xd, xd)
    idx = np.empty((len(q), k), np.int64)
    dist = np.empty((len(q), k), np.float64)
    for s in range(0, len(q), chunk):
        qd = q[s : s + chunk].astype(np.float64)
        dd = np.maximum(np.einsum("ij,ij->i", qd, qd)[:, None] + xx - 2.0 * qd @ xd.T, 0.0)
        part = np.argpartition(dd, k - 1, axis=1)[:, :k]
        pd_ = np.take_along_axis(dd, part, 1)
        order = np.argsort(pd_, axis=1, kind="stable")
        idx[s : s + chunk] = np.take_along_axis(part, order, 1)
        dist[s : s + chunk] = np.take_along_axis(pd_, order, 1)
    return idx, dist


@dataclass
class DocSet:
    doc_ids: np.ndarray  # int64
    texts: list
    emb: np.ndarray  # float32 (n, d), unit rows
    planted: set  # doc ids planted as exact or near copies of a lower id


def docs(
    rng: np.random.Generator,
    n: int,
    d: int,
    vocab: int,
    zipf_s: float,
    dup_frac: float,
) -> DocSet:
    """``n`` docs of 30-60 words drawn from a Zipf(``zipf_s``) vocabulary.

    A ``dup_frac`` share of them are planted copies of an earlier doc: half
    exact copies, half with one word substituted (word-3-gram Jaccard
    ~0.87, above the pipeline's 0.8 threshold).  Each copy's embedding is
    its source's plus small noise (cosine ~0.99); every other doc gets an
    independent random direction, so no unplanted pair is a near-duplicate.
    """
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    n_dup = int(n * dup_frac)
    n_base = n - n_dup
    texts = [
        " ".join(words[rng.choice(vocab, int(rng.integers(30, 61)), p=p)])
        for _ in range(n_base)
    ]
    emb = rng.standard_normal((n, d), dtype=np.float32)
    planted = set()
    for j in range(n_dup):
        src = int(rng.integers(0, n_base))
        w = texts[src].split()
        if j % 2:
            w[int(rng.integers(0, len(w)))] = f"edit{j}"
        texts.append(" ".join(w))
        dst = n_base + j
        emb[dst] = emb[src] / np.linalg.norm(emb[src]) + 0.01 * rng.standard_normal(
            d, dtype=np.float32
        )
        planted.add(dst)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return DocSet(np.arange(n, dtype=np.int64), texts, emb.astype(np.float32), planted)


def write_docs(doc_path: str, emb_path: str, ds: DocSet) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ds.doc_ids, pa.int64()), "text": ds.texts}), doc_path
    )
    write_vectors(emb_path, ds.doc_ids, ds.emb, "vec_id", "embedding")
