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


def distance_matrix(
    query: np.ndarray, embeddings: np.ndarray, metric: str = "cosine", dim: int | None = None
) -> np.ndarray:
    """Distances from one query vector to each row of ``embeddings``.

    query: shape (d,); embeddings: shape (n, d); returns shape (n,) float64.
    ``dim`` reads only the first ``dim`` entries of each vector (all when
    None), as ``sqlgen.dist_expr_cols`` does.

    Each metric is the left-associated float64 fold of its Spark twin
    ``sqlgen.dist_expr_cols`` (``acc = 0.0; acc = acc + term(d)`` for d in
    order, then the same closing ops), so the IEEE op sequence and the
    result are the JVM's bit for bit. No BLAS: a matrix product sums in its
    own order. When either norm is 0 the cosine distance is 1.0, the
    zero-norm rule of ``dist_expr_cols`` and ``pairwise_cosine_similarity``.
    """
    q = np.asarray(query, dtype=np.float64)
    e = np.asarray(embeddings, dtype=np.float64)
    if e.ndim == 1:
        e = e[None, :]
    width = min(q.shape[0], e.shape[1]) if dim is None else dim
    if metric not in SUPPORTED_METRICS:
        raise ValueError(
            f"Unsupported distance metric '{metric}'. Supported metrics are: {list(SUPPORTED_METRICS)}"
        )
    if metric == "Linf":
        return np.abs(q[:width] - e[:, :width]).max(axis=1)
    acc = np.zeros(e.shape[0])
    if metric == "cosine":
        nq, ne = 0.0, np.zeros(e.shape[0])
        for d in range(width):
            acc = acc + q[d] * e[:, d]
            nq = nq + q[d] * q[d]
            ne = ne + e[:, d] * e[:, d]
        # dist_expr_cols' zero-norm floor, the smallest positive double: a
        # zero denominator gives 1.0, a nonzero one is kept as it is
        return 1.0 - (acc / np.maximum(np.sqrt(nq) * np.sqrt(ne), 5e-324))
    for d in range(width):
        diff = q[d] - e[:, d]
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


def pairwise_cosine_similarity(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) cosine similarity, zero-norm safe."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    an = np.linalg.norm(a, axis=1, keepdims=True)
    bn = np.linalg.norm(b, axis=1, keepdims=True)
    an = np.where(an == 0, 1.0, an)
    bn = np.where(bn == 0, 1.0, bn)
    return (a / an) @ (b / bn).T


def l2_normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=-1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)
