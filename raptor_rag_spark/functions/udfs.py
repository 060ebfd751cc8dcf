"""Vectorized Arrow UDFs wrapping the numpy kernels.

Only the kernels that genuinely cannot be column expressions live here
(hash-ngram embedding, batched PIP, vector folds: a 64-term
expression per pair overran codegen's method limit). Cells, hashes and text
stats are JVM-side expressions in sqlgen.py (input_hint mandate: vectorized
pandas/Arrow UDFs, no per-row Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from ..kernels.distances import COS_SIM, row_distances
from ..kernels.embedder import DEFAULT_DIM, HashNgramEmbeddingModel
from ..kernels.topk import matrix


def make_embed_udf(dim: int = DEFAULT_DIM, model=None):
    """text -> ARRAY<FLOAT> embedding UDF (Arrow-batched, batch-level token
    cache inside embed_texts).

    Reference role: BaseEmbeddingModel.create_embedding
    (raptor/embedding_models.py:7-10), L2-normalized (:48). Rows go
    through ``model.embed_batch`` (a BaseEmbeddingModel); None is the stock
    ``HashNgramEmbeddingModel(dim)``, the tree operators' default too.
    """
    model = model if model is not None else HashNgramEmbeddingModel(dim)

    @F.pandas_udf(ArrayType(FloatType()))
    def embed_udf(texts: pd.Series) -> pd.Series:
        batch = texts.fillna("").tolist()
        mat = model.embed_batch(batch)
        return pd.Series(list(mat))

    return embed_udf


def make_cosine_udf(dim: int = DEFAULT_DIM):
    """(ARRAY<FLOAT>, ARRAY<FLOAT>) -> DOUBLE cosine similarity of each
    row's two vectors (first ``dim`` entries): the float64 fold of the
    DuckDB twin ``sqlgen.cosine_sim_sql``, bit for bit, so a zero vector's
    similarity is 0.0 on both engines."""

    @F.pandas_udf(DoubleType())
    def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(row_distances(matrix(a, dim), matrix(b, dim), COS_SIM))

    return cosine_udf
