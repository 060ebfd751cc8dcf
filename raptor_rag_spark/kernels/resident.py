"""Driver-resident tile tree: single-question retrieval with no Spark job.

``api.RetrievalAugmentation`` collects a small tree once and answers each
later single question here. Every step mirrors its Spark plan, so the
context string and layer list are the same byte for byte:

- distances: ``distances.distance_matrix``, the float64 fold the Spark
  operator ``knn.exact_topk`` runs in each partition;
- ranking: ``topk.select``, the same selection as that operator's
  partitions and merge window (``(dist, node_id)`` order, ``top_k``
  prefix, running-token ``max_tokens`` cut, threshold mode);
- traversal: ``traverse.traversal_retrieve``'s rounds, from the whole start
  layer down the ``children`` ids, output ordered by ``(round, rank)``;
- context: ``knn.retrieval_context``'s newline cleaning, ``concat_ws``
  join (null texts skipped) and trailing ``"\\n\\n"``.
"""

from __future__ import annotations

import re

import numpy as np

from .distances import distance_matrix
from .grid import RES_SHIFT
from .topk import select

_NEWLINES = re.compile(r"\r\n|\r|\n")


class ResidentTree:
    """The tree's ``node_id, level, cell_id, token_count, text, children``
    and the first ``dim`` entries of one context vector per node, as
    driver arrays."""

    def __init__(self, table, dim: int):
        """``table``: a pyarrow Table with those columns plus ``vector``
        (one list of at least ``dim`` floats per node, all of one width, or
        NULL: a NaN row, which ranks as the Spark plan ranks a NULL)."""
        col = lambda name: table.column(name).to_numpy()  # noqa: E731
        self.node_id = col("node_id")
        self.level = col("level")
        self.cell_id = col("cell_id")
        self.token_count = col("token_count")
        self.text = table.column("text").to_pylist()
        self.children = table.column("children").to_pylist()
        vectors = table.column("vector").combine_chunks()
        valid = vectors.is_valid().to_numpy(zero_copy_only=False)
        self.dim = dim
        self.vectors = np.full((len(vectors), dim), np.nan)
        if valid.any():
            self.vectors[valid] = vectors.flatten().to_numpy().reshape(int(valid.sum()), -1)[:, :dim]

    def levels_res(self) -> dict[int, int]:
        """{level: resolution}, as ``RetrievalAugmentation._warm`` collects it."""
        res = self.cell_id.astype(np.uint64) >> np.uint64(RES_SHIFT)
        return dict(zip(self.level.tolist(), res.tolist()))

    def distances(self, query: np.ndarray) -> np.ndarray:
        return distance_matrix(query, self.vectors, "cosine", self.dim)

    def collapsed(self, dist: np.ndarray, top_k: int | None, max_tokens: int | None) -> np.ndarray:
        """Row indices of the collapsed-tree selection, in rank order."""
        return select(dist, self.node_id, self.token_count, top_k, max_tokens)

    def traversal(
        self,
        dist: np.ndarray,
        start_layer: int,
        num_layers: int,
        top_k: int,
        selection_mode: str,
        threshold: float,
    ) -> np.ndarray:
        """Row indices of the top-down traversal, ordered by (round, rank)."""
        if num_layers > start_layer + 1:
            raise ValueError("num_layers must be less than or equal to start_layer + 1")
        candidates = np.flatnonzero(self.level == start_layer)
        rounds = []
        # reference quirk preserved: threshold mode keeps distance > threshold
        cut = dict(threshold=threshold) if selection_mode == "threshold" else dict(top_k=top_k)
        for _ in range(num_layers):
            best = candidates[select(dist[candidates], self.node_id[candidates], **cut)]
            rounds.append(best)
            kids = [c for i in best for c in self.children[i] or ()]
            candidates = np.flatnonzero(np.isin(self.node_id, kids))
        return np.concatenate(rounds)

    def context(self, rows: np.ndarray) -> tuple[str, list[dict]]:
        """(context, layer information) of the selected rows, in order; an
        empty selection gives ``("", [])``, as the reference's get_text."""
        if len(rows) == 0:
            return "", []
        texts = [self.text[i] for i in rows]
        context = "\n\n".join(_NEWLINES.sub(" ", t) for t in texts if t is not None) + "\n\n"
        layers = [
            {"node_index": n, "layer_number": lv}
            for n, lv in zip(self.node_id[rows].tolist(), self.level[rows].tolist())
        ]
        return context, layers
