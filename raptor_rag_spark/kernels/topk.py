"""One exact top-k selection for every embedding kNN path.

``kernels/resident.py`` runs :func:`select` per question on the driver;
``operators.knn.exact_topk`` runs :func:`partition_topk` on each Arrow batch
of rows, then merges the survivors with one window. Rows rank by
``(score, id)``. A NaN score is a NULL one (a NULL vector, such as a
multi-model map without the key): first ascending, last descending, ties by
id, where the window ranks NULLs.

Pre-limit rules. Each batch keeps a superset of its rows that can pass the
global cut, so the window sees at most batches × k rows per query and its
answer is exact:

- ``top_k``: the batch's top k; a row with k better rows in its batch has
  at least k overall.
- ``max_tokens`` (alone, or with ``top_k``): the rows whose local running
  token sum before them is ≤ ``max_tokens``, that is the local budget
  prefix plus the row that crosses it. Token counts are ≥ 0 and a row's
  global prefix holds its local one, so a dropped row overflows globally
  too; the crossing row is kept because the window needs its tokens: every
  row ranked after it must overflow there as well.
- ``threshold``: the rows with score > ``threshold`` (the reference's
  inverted comparison; NULL fails it), which the window then ranks.
- ``slack``, for paths that rank Spark's ``round(score, 6)``: also the rows
  within ``slack`` of the batch's k-th best raw score. ``round`` is monotone
  and moves a value by at most 5e-7, so a row more than 2e-6 behind has k
  rows strictly ahead of it after rounding too.
"""

from __future__ import annotations

import numpy as np

from .distances import COS_SIM, distance_matrix, row_distances

BLOCK = 1 << 20  # float64 elements in one (queries × rows) distance block
ROUND_SLACK = 2e-6


def require_cut(top_k: int | None, max_tokens: int | None, threshold: float | None) -> None:
    if top_k is None and max_tokens is None and threshold is None:
        raise ValueError("one of top_k or max_tokens must be set")


def select(
    score, ids, tokens=None, top_k=None, max_tokens=None, threshold=None, slack=0.0, desc=False,
    prelimit=False,
):
    """Indices of the selected rows in rank order: ``threshold`` mode, or
    the ``top_k`` prefix (widened by ``slack``) cut at ``max_tokens``
    running tokens. ``desc`` ranks the highest score first; ``prelimit``
    also keeps the row that crosses the budget."""
    require_cut(top_k, max_tokens, threshold)
    null = np.isnan(score)
    key = np.where(null, 0.0, -score if desc else score)
    ranked = np.lexsort((ids, key, null if desc else ~null))
    if threshold is not None:
        return ranked[score[ranked] > threshold]
    if top_k is not None:
        k = max(top_k, 0)
        ranked, tail = ranked[:k], ranked[k:]
        if slack and k and len(tail) and not null[ranked[-1]]:
            behind = score[tail] - score[ranked[-1]]  # NaN compares False: NULLs stay out
            ranked = np.concatenate([ranked, tail[(-behind if desc else behind) <= slack]])
    if max_tokens is not None:
        cum = np.cumsum(tokens[ranked])
        ranked = ranked[(cum - tokens[ranked] if prelimit else cum) <= max_tokens]
    return ranked


def matrix(vectors, dim: int) -> np.ndarray:
    """(n, dim) float64 from a sequence of vectors; a None is a NaN row."""
    out = np.full((len(vectors), dim), np.nan)
    for i, v in enumerate(vectors):
        if v is not None:
            out[i] = np.asarray(v, dtype=np.float64)[:dim]
    return out


def partition_topk(query_ids, queries, ids, vectors, tokens=None, row_query=None, metric="cosine", **cut):
    """(query ids, row indices, scores) of a group of rows' pre-limited
    selections, query by query. Without ``row_query`` each row meets every
    query, ``BLOCK`` elements of distances at a time; with it, row i meets
    query ``row_query[i]`` only (given (query, row) pairs). ``cut`` holds
    :func:`select`'s cuts; ``metric="cos_sim"`` ranks descending."""
    picked = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]

    def keep(qid, rows, score):
        tok = None if tokens is None else tokens[rows]
        at = select(score, ids[rows], tok, desc=metric == COS_SIM, prelimit=True, **cut)
        picked.append((np.full(len(at), qid), rows[at], score[at]))

    if row_query is None:
        rows = np.arange(len(ids))
        step = max(1, BLOCK // max(len(ids), 1))
        for s in range(0, len(query_ids), step):
            block = distance_matrix(queries[s : s + step], vectors, metric)
            for qid, score in zip(query_ids[s : s + step], block):
                keep(qid, rows, score)
    else:
        where = {q: i for i, q in enumerate(query_ids.tolist())}
        pos = np.array([where[q] for q in row_query.tolist()], dtype=np.int64)
        score = row_distances(queries[pos], vectors, metric)
        for p in np.unique(pos):
            rows = np.flatnonzero(pos == p)
            keep(query_ids[p], rows, score[rows])
    return tuple(np.concatenate(c) for c in zip(*picked))
