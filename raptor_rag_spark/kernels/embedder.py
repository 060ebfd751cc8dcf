"""Deterministic hash-ngram text embedder.

Plays the role of the reference's embedding models (raptor/embedding_models.py:
7-49 — LiteLLM / SBERT / HF, all network- or model-file-bound and unavailable
here). The contract the engine needs is only: ``text -> ARRAY<FLOAT>``,
deterministic per text, L2-normalized (the reference normalizes at
raptor/embedding_models.py:48), batchable.

Design: feature-hash each token and each char-3gram into ``dim`` signed
buckets (md5-based stable hash — never Python's seeded ``hash``), accumulate,
then L2-normalize. Deterministic across processes, partitions and runs, which
is what makes the whole pipeline's output independent of parallelism.

Batch path: tokens are deduplicated per batch and hashed once (dict cache), so
the per-row Python work is bounded by unique-token count, with numpy
``np.add.at`` accumulation — suitable for Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from .distances import l2_normalize

DEFAULT_DIM = 64
_WORD_RE = re.compile(r"[a-z0-9]+")


def _feature_hash(feature: str) -> int:
    digest = hashlib.md5(feature.encode("utf-8")).digest()
    return int.from_bytes(digest[:8], "big")


# word -> dense bucket-delta vector, persistent per worker process. Evicted
# by byte budget, oldest-half first (vocab of real corpora is Zipfian; the
# budget guards adversarial inputs without 1GB/worker blowups or full-cache
# thrash). Keyed by (dim, seed, word).
_WORD_VECS: dict[tuple[int, str, str], np.ndarray] = {}
_WORD_VECS_MAX_BYTES = 128 * 1024 * 1024  # ≈256k entries at dim=64
_WORD_VECS_BYTES = 0


def _word_vec(w: str, dim: int, seed: str = "") -> np.ndarray:
    global _WORD_VECS_BYTES
    key = (dim, seed, w)
    vec = _WORD_VECS.get(key)
    if vec is None:
        if _WORD_VECS_BYTES >= _WORD_VECS_MAX_BYTES:
            # drop the older half (dict preserves insertion order) instead of
            # clear(): sustained churn keeps the hot recent vocabulary warm
            for k in list(_WORD_VECS)[: len(_WORD_VECS) // 2 or 1]:
                _WORD_VECS_BYTES -= _WORD_VECS[k].nbytes
                del _WORD_VECS[k]
        vec = np.zeros(dim, dtype=np.float64)
        padded = f"^{w}$"
        feats = ["w:" + w] + ["g:" + padded[i : i + 3] for i in range(len(padded) - 2)]
        for f in feats:
            h = _feature_hash(seed + "|" + f if seed else f)
            vec[h % dim] += 1.0 if (h >> 62) & 1 else -1.0
        _WORD_VECS[key] = vec
        _WORD_VECS_BYTES += vec.nbytes
    return vec


def embed_texts(texts, dim: int = DEFAULT_DIM, seed: str = "") -> np.ndarray:
    """Embed an iterable of strings -> (n, dim) float32, rows L2-normalized.

    Empty/feature-less texts embed to the zero vector. ``seed`` names a
    distinct hash family — two seeds give two deterministic, unrelated
    embedding models (the multi-model surface of reference
    raptor/tree_structures.py:9); seed "" is bit-identical to round-1 output.

    Per-word dense deltas are cached across batches (worker-lifetime), so the
    hot path allocates almost nothing — this kernel is memory-allocation
    bound otherwise, which caps scaling on virtualized hosts. Bit-exact with
    the per-feature formulation: bucket values are sums of ±1 (exact
    integers in float64), so accumulation order cannot change the result.
    """
    texts = list(texts)
    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float64)
    for row, text in enumerate(texts):
        if not isinstance(text, str) or not text:
            continue
        words = _WORD_RE.findall(text.lower().replace("\n", " "))
        if not words:
            continue
        acc = out[row]
        for w in words:
            acc += _word_vec(w, dim, seed)
    return l2_normalize(out).astype(np.float32)


def embed_text(text: str, dim: int = DEFAULT_DIM, seed: str = "") -> list[float]:
    return embed_texts([text], dim, seed)[0].tolist()


class BaseEmbeddingModel:
    """Pluggability contract mirroring raptor/embedding_models.py:7-10."""

    def create_embedding(self, text: str) -> list[float]:
        raise NotImplementedError

    def embed_batch(self, texts) -> np.ndarray:
        """Vectorized default: loops create_embedding; override when the
        backend can batch (the engine's Arrow UDFs call this)."""
        return np.array([self.create_embedding(t or "") for t in texts], dtype=np.float32)


class HashNgramEmbeddingModel(BaseEmbeddingModel):
    def __init__(self, dim: int = DEFAULT_DIM, seed: str = ""):
        self.dim = dim
        self.seed = seed

    def create_embedding(self, text: str) -> list[float]:
        return embed_text(text, self.dim, self.seed)

    def embed_batch(self, texts) -> np.ndarray:
        return embed_texts(texts, self.dim, self.seed)
