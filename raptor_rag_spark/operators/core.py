"""Leaf-node pipeline operators: chunk → embed → project → cell-assign.

Spark-first shapes (SURVEY.md §3.1 Spark lifecycle):
- chunking: pandas UDF returning ARRAY<STRING> + ``posexplode`` (UDTF-shape,
  reference: raptor/tree_builder.py:149-162);
- embedding: Arrow-batched pandas UDF (reference thread-pool fan-out at
  raptor/tree_builder.py:136-147 becomes partition parallelism);
- the tree's leaves chunk, embed, project to xy and hash their node ids in
  ONE Arrow batch pass (:func:`chunk_embed_fused`), which already holds
  every vector in numpy: ``kernels.reduce.project_xy`` and
  ``kernels.textstats.portable_hash63`` are the bit-exact twins of
  ``sqlgen.xy_cols`` and ``sqlgen.hash63_col``. A node id is the 60-bit
  portable hash of (doc id, chunk idx), stable across runs and
  partitionings, which is what makes resume and the N-vs-4N exact-match
  checks possible;
- cell id and token count: pure column expressions from functions/sqlgen.py
  — JVM-side, whole-stage-codegen'd, bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..functions.udfs import make_embed_udf
from ..kernels.chunker import split_text
from ..kernels.embedder import DEFAULT_DIM, HashNgramEmbeddingModel
from ..kernels.reduce import project_xy
from ..kernels.textstats import portable_hash63
from ..kernels.tokenizer import RegexTokenizer


def with_embedding(
    df: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM, model=None
) -> DataFrame:
    embed_udf = make_embed_udf(dim, model)
    return df.withColumn("embedding", embed_udf(F.col(text_col)))


def with_cell(
    df: DataFrame, res: int, x_col: str = "x", y_col: str = "y", lattice: str = "quad"
) -> DataFrame:
    """Cell assignment on the configured lattice: ``quad`` = the 64-bit
    quadkey grid (sqlgen.cell_col), ``hex`` = the H3-style hexagonal lattice
    (hexgen.hex_cell_col) — same packed-id layout, so every downstream
    groupBy/parent join is lattice-agnostic."""
    if lattice == "hex":
        from ..functions.hexgen import hex_cell_col

        return df.withColumn("cell_id", hex_cell_col(F.col(x_col), F.col(y_col), res))
    if lattice != "quad":
        raise ValueError(f"unknown lattice {lattice!r} (expected 'quad' or 'hex')")
    return df.withColumn("cell_id", G.cell_col(F.col(x_col), F.col(y_col), res))


def batch_embedder(models: dict | None, cluster_model: str = "default", dim: int = DEFAULT_DIM):
    """The one embedding path of the tree operators: ``(embed, multi)``.

    ``models`` maps names to BaseEmbeddingModel; None is the stock
    ``{"default": HashNgramEmbeddingModel(dim)}``. ``embed(texts)`` returns
    the ``embedding`` column, the ``cluster_model``'s vectors — the ones that
    drive cell assignment (reference retrieval_augmentation.py:56-64
    routing) — and, when ``multi`` (more than one model), an ``embeddings``
    column of name → vector maps (reference multi-model surface,
    raptor/tree_structures.py:9 and tree_builder.py:125-127).

    The xy projection reads the first ``dim`` entries of the cluster
    vector, so a narrower cluster model is refused: up front when it
    declares its width (``model.dim``), otherwise on the executor at its
    first batch. No model is called on the driver — backends load on
    executors only (kernels/adapters.py)."""
    if models is None:
        models = {"default": HashNgramEmbeddingModel(dim)}
    if cluster_model not in models:
        raise ValueError("cluster_embedding_model must be a key in the embedding_models dictionary")

    def check_width(width: int) -> None:
        if width < dim:
            raise ValueError(
                f"cluster embedding model {cluster_model!r} gives {width}-dimensional "
                f"vectors, but the tile tree projects {dim}-dimensional ones"
            )

    declared = getattr(models[cluster_model], "dim", None)
    if declared is not None:
        check_width(declared)
    multi = len(models) > 1

    def embed(texts: list[str]) -> dict[str, list]:
        per_model = {name: m.embed_batch(texts) for name, m in models.items()}
        if texts:
            check_width(len(per_model[cluster_model][0]))
        out = {"embedding": list(per_model[cluster_model])}
        if multi:
            out["embeddings"] = [
                {name: vecs[i] for name, vecs in per_model.items()} for i in range(len(texts))
            ]
        return out

    return embed, multi


def chunk_embed_fused(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 100,
    dim: int = DEFAULT_DIM,
    overlap: int = 0,
    models: dict | None = None,
    cluster_model: str = "default",
) -> DataFrame:
    """Chunk + embed + project + id in ONE Python round trip (mapInPandas).

    The split chunk-UDF → posexplode → embed-UDF pipeline pays two JVM↔Python
    Arrow pipes over the full text volume; fusing them halves the IPC, which
    measurably dominates at high parallelism (syscall-heavy virtualized
    hosts). Kernels are identical (split_text + embed_texts), so output is
    bit-identical to the composed path.

    Each batch also gets ``x, y`` from ``project_xy`` over the cluster
    vector's first ``dim`` entries, rounded to float32 first since that is
    what ``ARRAY<FLOAT>`` stores (= ``sqlgen.xy_cols`` on the stored
    column), and ``node_id`` = ``portable_hash63("doc_id:chunk_idx")``
    (= ``hash63_col(concat_ws(":", …))``, which skips a null doc id).

    Embeddings come from :func:`batch_embedder`; with >1 entry in ``models``
    an extra ``embeddings MAP<STRING, ARRAY<FLOAT>>`` column carries every
    model's vector."""
    base = docs.select(F.col(id_col).cast("string").alias("doc_id"), F.col(text_col).alias("text"))
    embed, multi = batch_embedder(models, cluster_model, dim)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = RegexTokenizer()
        for pdf in batches:
            ids: list[str] = []
            idxs: list[int] = []
            texts: list[str] = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                chunks = split_text(t or "", tok, max_tokens, overlap)
                ids.extend([did] * len(chunks))
                idxs.extend(range(len(chunks)))
                texts.extend(chunks)
            if not texts:
                continue  # empty lists become float64 columns Arrow cannot cast to arrays
            vecs = embed(texts)
            e = np.asarray(vecs["embedding"], dtype=np.float32)[:, :dim]
            xy = project_xy(e.astype(np.float64))
            node_ids = [
                portable_hash63(f"{did}:{i}" if did is not None else str(i))
                for did, i in zip(ids, idxs)
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "chunk_idx": idxs, "text": texts, "x": xy[:, 0], "y": xy[:, 1],
                 "node_id": node_ids, **vecs}
            )

    schema = (
        "doc_id STRING, chunk_idx INT, text STRING, x DOUBLE, y DOUBLE, node_id LONG, "
        "embedding ARRAY<FLOAT>"
    )
    if multi:
        schema += ", embeddings MAP<STRING, ARRAY<FLOAT>>"
    return base.mapInPandas(gen, schema)


def leaf_nodes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 100,
    res: int = 12,
    dim: int = DEFAULT_DIM,
    overlap: int = 0,
    models: dict | None = None,
    cluster_model: str = "default",
    lattice: str = "quad",
) -> DataFrame:
    """Full leaf pipeline → level-0 nodes DataFrame (SURVEY.md §1.2 schema).

    One fused Python pass (chunk, embed, xy projection, node ids), then the
    cell encode and token counts are JVM column expressions inside
    whole-stage codegen."""
    nodes = chunk_embed_fused(docs, id_col, text_col, max_tokens, dim, overlap, models, cluster_model)
    nodes = with_cell(nodes, res, lattice=lattice)
    cols = [
        F.col("node_id"),
        F.lit(0).alias("level"),
        F.col("cell_id"),
        F.col("doc_id").alias("url"),
        F.col("chunk_idx"),
        F.col("text"),
        F.col("embedding"),
        F.col("x"),
        F.col("y"),
        F.array().cast("array<long>").alias("children"),
        G.token_count_col(F.col("text")).cast("int").alias("token_count"),
        F.lit(1).cast("long").alias("n_leaves"),
    ]
    if "embeddings" in nodes.columns:
        cols.append(F.col("embeddings"))
    return nodes.select(*cols)
