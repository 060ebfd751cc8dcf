"""Row-level Node/Tree model + DataFrame converters.

The engine's source of truth is the level-partitioned ``nodes`` DataFrame
(SURVEY.md §1.1); these dataclasses are the *row-level view* used by the
mirrored reference unit tests (reference: raptor/tree_structures.py:4-18) and
by small-scale parity checks between the local kernels and the distributed
plans. ``children`` is kept as a sorted, deduped list (Spark has no set type;
invariant U5 in SURVEY.md §2.7).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Node:
    text: str
    index: int
    children: set[int] = field(default_factory=set)
    embeddings: dict[str, list[float]] = field(default_factory=dict)


@dataclass
class Tree:
    all_nodes: dict[int, Node]
    root_nodes: dict[int, Node]
    leaf_nodes: dict[int, Node]
    num_layers: int
    layer_to_nodes: dict[int, list[Node]]


def get_node_list(node_dict: dict[int, Node]) -> list[Node]:
    """Nodes sorted by index — the determinism contract every order-sensitive
    kernel relies on (reference: raptor/utils.py:105-108)."""
    return [node_dict[i] for i in sorted(node_dict)]


def get_embeddings(node_list: list[Node], embedding_model: str) -> list[list[float]]:
    return [node.embeddings[embedding_model] for node in node_list]


def reverse_mapping(layer_to_nodes: dict[int, list[Node]]) -> dict[int, int]:
    """node index -> layer (reference: raptor/utils.py:10-15)."""
    out: dict[int, int] = {}
    for layer, nodes in layer_to_nodes.items():
        for node in nodes:
            out[node.index] = layer
    return out


NODES_SCHEMA_DDL = (
    "node_id LONG, level INT, cell_id LONG, url STRING, chunk_idx INT, "
    "text STRING, embedding ARRAY<FLOAT>, x DOUBLE, y DOUBLE, "
    "children ARRAY<LONG>, token_count INT, n_leaves LONG"
)
