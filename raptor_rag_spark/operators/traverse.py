"""Tree-traversal retrieval — top-down level descent (J2 + W2 + P3).

Mirrors TreeRetriever.retrieve_information (reference:
raptor/tree_retriever.py:153-182): start from the top layer, select top_k (or
distance>threshold — the reference's preserved inverted comparison) per query,
then descend via the children arrays (explode + dedup + hash join on node_id,
the parent→child cell join of the recast) for num_layers rounds.

The per-level loop is driver-side (num_layers ≤ 5); each round is a plain
DataFrame plan: candidates ⋈ queries → distance expr → window rank → explode
children. Results accumulate across levels, as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels.embedder import DEFAULT_DIM
from .knn import RESULT_COLS, _distance


def traversal_retrieve(
    nodes: DataFrame,
    queries: DataFrame,
    start_layer: int,
    num_layers: int,
    top_k: int = 5,
    selection_mode: str = "top_k",
    threshold: float = 0.5,
    dim: int = DEFAULT_DIM,
    distance_metric: str = "cosine",
    model: str | None = None,
) -> DataFrame:
    """queries: (query_id, q_embedding). Returns RESULT_COLS + ``round`` with
    ``rank`` being the selection order within each traversal round."""
    if num_layers > start_layer + 1:
        raise ValueError("num_layers must be less than or equal to start_layer + 1")

    dist = _distance(dim, distance_metric, model)
    w = Window.partitionBy("query_id").orderBy("dist", "node_id")

    # candidate set for round 0: whole start layer for every query
    candidates = (
        nodes.filter(F.col("level") == start_layer)
        .crossJoin(F.broadcast(queries.select("query_id")))
        .select("query_id", "node_id")
    )

    selected_rounds: list[DataFrame] = []
    for round_idx in range(num_layers):
        scored = (
            candidates.join(nodes, "node_id")
            .join(F.broadcast(queries), "query_id")
            .withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(w))
        )
        if selection_mode == "threshold":
            # reference quirk preserved: keeps distance > threshold (P3)
            best = scored.filter(F.col("dist") > threshold)
        else:
            best = scored.filter(F.col("rank") <= top_k)
        best = best.select(*RESULT_COLS, "children").localCheckpoint(eager=False)
        selected_rounds.append(best.select(*RESULT_COLS).withColumn("round", F.lit(round_idx)))

        if round_idx != num_layers - 1:
            candidates = (
                best.select("query_id", F.explode("children").alias("node_id"))
                .dropDuplicates(["query_id", "node_id"])
            )

    out = selected_rounds[0]
    for df in selected_rounds[1:]:
        out = out.unionByName(df)
    return out
