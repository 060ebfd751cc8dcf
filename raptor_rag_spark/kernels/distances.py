"""Vectorized distance kernels (reference: raptor/utils.py:84-102).

The reference dispatches per-row to scipy (cosine / cityblock / euclidean /
chebyshev). scipy is absent here and would be per-row anyway; these are
matrix-vectorized numpy equivalents with the same exact values (asserted in
tests against the reference's exact-value fixtures: cosine(identical)=0,
orthogonal=1, opposite=2; L1([0,0],[3,4])=7; L2=5; Linf=4).
"""

from __future__ import annotations

import numpy as np

SUPPORTED_METRICS = ("cosine", "L1", "L2", "Linf")
COS_SIM = "cos_sim"  # not a distance: the cosine similarity, ranked highest first
MIN_DEN = 5e-324  # ``sqlgen.MIN_DEN``, the cosine zero-norm floor


def check_metric(metric: str) -> None:
    if metric not in SUPPORTED_METRICS:
        raise ValueError(
            f"Unsupported distance metric '{metric}'. Supported metrics are: {list(SUPPORTED_METRICS)}"
        )


def distance_matrix(
    query: np.ndarray, embeddings: np.ndarray, metric: str = "cosine", dim: int | None = None
) -> np.ndarray:
    """Distances from each query vector to each row of ``embeddings``.

    query: shape (d,) or (Q, d); embeddings: shape (n, d); returns shape
    (n,) or (Q, n) float64 (``kernels.topk`` bounds Q × n). ``dim`` reads
    only the first ``dim`` entries of each vector (all when None)."""
    q = np.asarray(query, dtype=np.float64)
    e = np.asarray(embeddings, dtype=np.float64)
    if e.ndim == 1:
        e = e[None, :]
    if q.ndim == 2:
        q, e = q[:, None, :], e[None, :, :]
    return row_distances(q, e, metric, dim)


def row_distances(a: np.ndarray, b: np.ndarray, metric: str = "cosine", dim: int | None = None) -> np.ndarray:
    """Distances between the vectors on the last axis of ``a`` and ``b``,
    broadcast against each other (two (n, d) arrays: n given pairs).

    Each metric is the left-associated float64 fold of the DuckDB twin
    ``sqlgen.dist_sql`` (``acc = 0.0; acc = acc + term(d)`` for d in order,
    then the same closing ops), so the result is the SQL engine's bit for
    bit. No BLAS: a matrix product sums in its own order. The cosine
    denominator is floored at ``MIN_DEN``, as in ``dist_sql`` and
    ``cosine_sim_sql``: a zero vector has similarity 0 and distance 1.0."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    width = min(a.shape[-1], b.shape[-1]) if dim is None else dim
    if metric != COS_SIM:
        check_metric(metric)
    if metric == "Linf":  # max is a selection: no rounding, any order
        acc = np.abs(a[..., 0] - b[..., 0])
        for d in range(1, width):
            acc = np.maximum(acc, np.abs(a[..., d] - b[..., d]))
        return acc
    acc = 0.0
    if metric in ("cosine", COS_SIM):
        na = nb = 0.0
        for d in range(width):
            x, y = a[..., d], b[..., d]
            acc = acc + x * y
            na = na + x * x
            nb = nb + y * y
        sim = acc / np.maximum(np.sqrt(na) * np.sqrt(nb), MIN_DEN)
        return sim if metric == COS_SIM else 1.0 - sim
    for d in range(width):
        diff = a[..., d] - b[..., d]
        acc = acc + (np.abs(diff) if metric == "L1" else diff * diff)
    return acc if metric == "L1" else np.sqrt(acc)


def distances_from_embeddings(
    query_embedding: list[float],
    embeddings: list[list[float]],
    distance_metric: str = "cosine",
) -> list[float]:
    """Reference-compatible list-in/list-out wrapper."""
    if len(embeddings) == 0:
        return []
    return distance_matrix(np.asarray(query_embedding), np.asarray(embeddings), distance_metric).tolist()


def indices_of_nearest_neighbors_from_distances(distances) -> np.ndarray:
    """Ascending argsort (reference: raptor/utils.py:121-122)."""
    return np.argsort(distances, kind="stable")


def l2_normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=-1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)
