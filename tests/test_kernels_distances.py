"""Exact-value distance contracts (reference: tests/test_utils.py:94-155)."""

import numpy as np
import pytest

from raptor_rag_spark.kernels.distances import (
    distances_from_embeddings,
    indices_of_nearest_neighbors_from_distances,
    distance_matrix,
    l2_normalize,
)


def test_cosine_identical():
    assert distances_from_embeddings([1.0, 0.0], [[1.0, 0.0]])[0] == pytest.approx(0.0)


def test_cosine_orthogonal():
    assert distances_from_embeddings([1.0, 0.0], [[0.0, 1.0]])[0] == pytest.approx(1.0)


def test_cosine_opposite():
    assert distances_from_embeddings([1.0, 0.0], [[-1.0, 0.0]])[0] == pytest.approx(2.0)


def test_l1():
    assert distances_from_embeddings([0.0, 0.0], [[3.0, 4.0]], "L1")[0] == pytest.approx(7.0)


def test_l2():
    assert distances_from_embeddings([0.0, 0.0], [[3.0, 4.0]], "L2")[0] == pytest.approx(5.0)


def test_linf():
    assert distances_from_embeddings([0.0, 0.0], [[3.0, 4.0]], "Linf")[0] == pytest.approx(4.0)


def test_unsupported_metric():
    with pytest.raises(ValueError, match="Unsupported distance metric"):
        distances_from_embeddings([1.0], [[1.0]], "manhattan")


def test_argsort_order():
    order = indices_of_nearest_neighbors_from_distances([0.5, 0.1, 0.9, 0.3])
    assert list(order) == [1, 3, 0, 2]


def test_empty_embeddings():
    assert distances_from_embeddings([1.0, 0.0], []) == []


def test_pairwise_cosine_shape_and_values():
    a = np.eye(3)
    sim = distance_matrix(a, a, "cos_sim")
    assert sim.shape == (3, 3)
    assert np.allclose(np.diag(sim), 1.0)
    assert sim[0, 1] == pytest.approx(0.0)


def test_l2_normalize_zero_safe():
    out = l2_normalize(np.array([[0.0, 0.0], [3.0, 4.0]]))
    assert np.allclose(out[0], 0.0)
    assert np.linalg.norm(out[1]) == pytest.approx(1.0)


def test_topk_select_order_nulls_and_slack():
    """The selection of every kNN path: (score, id) order with NaN as a
    NULL score (first ascending, last descending, ties by id), the top_k
    prefix widened by ``slack`` around the k-th raw score, the running
    token cut, and threshold mode (NULL fails it)."""
    from raptor_rag_spark.kernels.topk import ROUND_SLACK, select

    score = np.array([0.5, np.nan, 0.2, 0.2, np.nan, 0.2000015, 0.2000025])
    ids = np.array([5, 4, 3, 2, 1, 7, 6])
    tokens = np.array([1, 1, 1, 1, 1, 1, 1])
    assert select(score, ids, top_k=7).tolist() == [4, 1, 3, 2, 5, 6, 0]
    assert select(score, ids, top_k=7, desc=True).tolist() == [0, 6, 5, 3, 2, 4, 1]
    assert select(score, ids, top_k=3).tolist() == [4, 1, 3]  # k-th is a number...
    assert select(score, ids, top_k=3, slack=ROUND_SLACK).tolist() == [4, 1, 3, 2, 5]
    assert select(score, ids, top_k=1, slack=ROUND_SLACK).tolist() == [4]  # ...or NULL
    assert select(score, ids, top_k=2, slack=ROUND_SLACK, desc=True).tolist() == [0, 6, 5]
    assert select(score, ids, top_k=3, slack=ROUND_SLACK, desc=True).tolist() == [0, 6, 5, 3, 2]
    assert select(score, ids, tokens, max_tokens=3).tolist() == [4, 1, 3]
    assert select(score, ids, tokens, top_k=2, max_tokens=3).tolist() == [4, 1]
    assert select(score, ids, tokens, max_tokens=3, prelimit=True).tolist() == [4, 1, 3, 2]
    assert select(score, ids, 2 * tokens, max_tokens=3, prelimit=True).tolist() == [4, 1]
    assert select(score, ids, threshold=0.2).tolist() == [5, 6, 0]
    with pytest.raises(ValueError, match="one of top_k or max_tokens"):
        select(score, ids)
