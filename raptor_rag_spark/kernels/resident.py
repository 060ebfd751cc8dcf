"""Driver-resident tile tree: single-question retrieval with no Spark job.

``api.RetrievalAugmentation`` collects a small tree once and answers each
later single question here. Every step mirrors its Spark plan, so the
context string and layer list are the same byte for byte:

- distances: ``distances.distance_matrix``, the float64 fold of
  ``sqlgen.dist_expr_cols``;
- ranking: ``np.lexsort((node_id, dist))`` is the ``(dist, node_id)``
  window order of ``knn._rank_and_budget``; ``top_k`` keeps a prefix and
  ``max_tokens`` filters on the running token sum;
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

_NEWLINES = re.compile(r"\r\n|\r|\n")


class ResidentTree:
    """The tree's ``node_id, level, cell_id, token_count, text, children``
    and the first ``dim`` entries of one context vector per node, as
    driver arrays."""

    def __init__(self, table, dim: int):
        """``table``: a pyarrow Table with those columns plus ``vector``
        (one list of at least ``dim`` floats per node, all of one width)."""
        col = lambda name: table.column(name).to_numpy()  # noqa: E731
        self.node_id = col("node_id")
        self.level = col("level")
        self.cell_id = col("cell_id")
        self.token_count = col("token_count")
        self.text = table.column("text").to_pylist()
        self.children = table.column("children").to_pylist()
        vectors = table.column("vector").combine_chunks()
        flat = vectors.flatten().to_numpy()
        self.dim = dim
        self.vectors = (
            flat.reshape(len(vectors), -1)[:, :dim] if len(vectors) else flat.reshape(0, dim)
        )

    def levels_res(self) -> dict[int, int]:
        """{level: resolution}, as ``RetrievalAugmentation._warm`` collects it."""
        res = self.cell_id.astype(np.uint64) >> np.uint64(RES_SHIFT)
        return dict(zip(self.level.tolist(), res.tolist()))

    def distances(self, query: np.ndarray) -> np.ndarray:
        return distance_matrix(query, self.vectors, "cosine", self.dim)

    def _ranked(self, rows: np.ndarray, dist: np.ndarray) -> np.ndarray:
        return rows[np.lexsort((self.node_id[rows], dist[rows]))]

    def collapsed(self, dist: np.ndarray, top_k: int | None, max_tokens: int | None) -> np.ndarray:
        """Row indices of the collapsed-tree selection, in rank order."""
        if top_k is None and max_tokens is None:
            raise ValueError("one of top_k or max_tokens must be set")
        picked = self._ranked(np.arange(len(dist)), dist)
        if top_k is not None:
            picked = picked[: max(top_k, 0)]  # rank <= top_k
        if max_tokens is not None:
            picked = picked[np.cumsum(self.token_count[picked]) <= max_tokens]
        return picked

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
        for _ in range(num_layers):
            ranked = self._ranked(candidates, dist)
            if selection_mode == "threshold":
                # reference quirk preserved: keeps distance > threshold
                best = ranked[dist[ranked] > threshold]
            else:
                best = ranked[:top_k]
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
