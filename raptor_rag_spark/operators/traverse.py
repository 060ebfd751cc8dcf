"""Tree-traversal retrieval — top-down level descent (J2 + W2 + P3).

Mirrors TreeRetriever.retrieve_information (reference:
raptor/tree_retriever.py:153-182): start from the top layer, select top_k (or
distance>threshold — the reference's preserved inverted comparison) per query,
then descend via the children arrays (explode + dedup + hash join on node_id,
the parent→child cell join of the recast) for num_layers rounds.

The per-level loop is driver-side (num_layers ≤ 5); each round ranks its
candidates (the start layer, then the (query, child) pairs) with
``knn.exact_topk``. Results accumulate across levels, as in the reference.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.embedder import DEFAULT_DIM
from .knn import RESULT_COLS, exact_topk, local_queries, with_nodes


def traversal_retrieve(
    nodes: DataFrame,
    queries: DataFrame | pd.DataFrame,
    start_layer: int,
    num_layers: int,
    top_k: int = 5,
    selection_mode: str = "top_k",
    threshold: float = 0.5,
    dim: int = DEFAULT_DIM,
    distance_metric: str = "cosine",
    model: str | None = None,
) -> DataFrame:
    """queries: (query_id, q_embedding), a Spark or pandas frame. Returns
    RESULT_COLS + ``round`` with ``rank`` being the selection order within
    each traversal round."""
    if num_layers > start_layer + 1:
        raise ValueError("num_layers must be less than or equal to start_layer + 1")

    queries = local_queries(queries)  # one collect, not one per round
    # reference quirk preserved: threshold mode keeps distance > threshold (P3)
    cut = dict(threshold=threshold) if selection_mode == "threshold" else dict(top_k=top_k)

    candidates = nodes.filter(F.col("level") == start_layer)
    selected_rounds: list[DataFrame] = []
    for round_idx in range(num_layers):
        ranked = exact_topk(candidates, queries, model, metric=distance_metric, dim=dim, **cut)
        best = with_nodes(
            ranked, nodes, (*RESULT_COLS, "children"), broadcast="top_k" in cut
        ).localCheckpoint(eager=False)
        selected_rounds.append(best.select(*RESULT_COLS).withColumn("round", F.lit(round_idx)))

        if round_idx != num_layers - 1:
            candidates = (
                best.select("query_id", F.explode("children").alias("node_id"))
                .dropDuplicates(["query_id", "node_id"])
                .join(nodes, "node_id")
            )

    return reduce(DataFrame.unionByName, selected_rounds)
