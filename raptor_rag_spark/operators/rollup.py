"""Per-cell rollups: parent-node construction and raster-band tile stats.

``build_parent_nodes`` is the engine's A1 (group-by-cluster summarize,
reference: raptor/cluster_tree_builder.py:62-79): level-k nodes grouped by the
parent cell one resolution coarser; each group becomes one parent node whose
text is a deterministic extractive summary, embedding is the summary's
embedding, children = sorted member ids. Hot cells (token sum >
max_length_in_cluster, reference's recluster gate at
raptor/cluster_utils.py:116-122) are *salted* into deterministic sub-buckets
``node_id % salt_bucket_count(...)``. The level below picks one of two
regimes by its measured size: the bytes its members carry into the gather
(``member_bytes``, summed by the job that committed the level) against
``spark.sql.autoBroadcastJoinThreshold``, the bound under which Spark itself
collects a relation:

- a level under the bound (every coarse level: the top of the hierarchy is
  metadata-scale) is gathered, salted and summarized in ONE task — no
  pre-pass, no broadcast, no shuffle, so the level's commit is its only job;
- a larger level is the explicit skew handling the north rule demands: the
  salt map is tiny (only hot cells) and broadcast, and the member gather
  shuffles on (cell, salt), so a hot cell's buckets go to different tasks and
  the expensive summarize runs on bounded groups.

Both regimes call one per-group summarizer and give bit-identical rows.

``tile_stats`` is A5 (per-level tile rollup → raster bands): pure JVM
aggregations, no UDF.

Determinism: each group's members are ordered by (node_id, text, x, y) before
any float reduction, so results are independent of partitioning/parallelism.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..kernels.embedder import DEFAULT_DIM
from ..kernels.summarize import extractive_summary, get_text
from ..kernels.textstats import portable_hash63
from ..kernels.tokenizer import RegexTokenizer
from ..session import broadcast_bound
from .core import batch_embedder

logger = logging.getLogger(__name__)

NODES_SCHEMA = (
    "node_id LONG, level INT, cell_id LONG, url STRING, chunk_idx INT, text STRING, "
    "embedding ARRAY<FLOAT>, x DOUBLE, y DOUBLE, children ARRAY<LONG>, "
    "token_count INT, n_leaves LONG"
)
_NODE_COLS = [
    "node_id", "level", "cell_id", "url", "chunk_idx", "text",
    "embedding", "x", "y", "children", "token_count", "n_leaves",
]
_MEMBER_COLS = ["node_id", "text", "x", "y"]
_GATHER_COLS = [*_MEMBER_COLS, "token_count", "n_leaves"]  # and parent_cell


def member_bytes() -> F.Column:
    """The bytes one node carries into its parent level's gather: its text's
    UTF-8 bytes plus 8 for each other gathered column (node_id, x, y,
    token_count, n_leaves and the parent cell). Summed over a level, it is
    the measured size ``build_parent_nodes`` holds against the broadcast
    bound."""
    return F.octet_length("text") + F.lit(48)


def parent_cell(cell: F.Column, lattice: str) -> F.Column:
    """Packed id of ``cell``'s parent one resolution coarser on the
    configured lattice (both are pure column arithmetic with the same id
    layout)."""
    if lattice == "hex":
        from ..functions.hexgen import hex_parent_packed_col

        return hex_parent_packed_col(cell)
    if lattice != "quad":
        raise ValueError(f"unknown lattice {lattice!r} (expected 'quad' or 'hex')")
    return G.cell_parent_col(cell, 1)


def _salt_map(nodes: DataFrame, parent_cell: F.Column, max_length_in_cluster: int) -> DataFrame:
    """(parent_cell, n_buckets) for hot cells only — broadcastable."""
    return (
        nodes.groupBy(parent_cell.alias("parent_cell"))
        .agg(F.sum("token_count").alias("tok_sum"), F.count("*").alias("n_members"))
        .filter(F.col("tok_sum") > max_length_in_cluster)
        .select(
            "parent_cell",
            F.least(
                F.ceil(F.col("tok_sum") / F.lit(max_length_in_cluster)), F.col("n_members")
            ).cast("int").alias("n_buckets"),
        )
    )


def _salted_groups(pdf: pd.DataFrame, max_length_in_cluster: int):
    """The (cell, salt) groups of one whole level held in ``pdf``, as the
    salted shuffle forms them: a hot cell's node goes to bucket
    ``node_id % salt_bucket_count(...)``, a cold one to 0, and each group's
    members are ordered as ``sort_array`` orders their structs."""
    cells = pdf.groupby("parent_cell")["token_count"].agg(["sum", "size"])
    buckets = {
        cell: salt_bucket_count(tok, n, max_length_in_cluster) if tok > max_length_in_cluster else 1
        for cell, tok, n in zip(cells.index, cells["sum"], cells["size"])
    }
    pdf = pdf.assign(salt=pdf["node_id"] % pdf["parent_cell"].map(buckets))
    pdf = pdf.sort_values(["parent_cell", "salt", *_MEMBER_COLS])
    for (cell, salt), g in pdf.groupby(["parent_cell", "salt"], sort=False):
        yield cell, salt, g["node_id"], g["text"].tolist(), g["x"], g["y"], g["n_leaves"].sum()


def build_parent_nodes(
    nodes: DataFrame,
    next_level: int,
    summarization_length: int = 100,
    max_length_in_cluster: int = 3500,
    dim: int = DEFAULT_DIM,
    models: dict | None = None,
    cluster_model: str = "default",
    lattice: str = "quad",
    level_bytes: int | None = None,
) -> DataFrame:
    """One parent node per (parent cell, salt bucket) of the given nodes.

    ``level_bytes`` is the nodes' ``member_bytes`` sum: the tree build
    passes the figure the level's commit observed; without it, one job
    measures it here. A level whose sum is at most the broadcast bound runs
    in one task: its rows are coalesced into one partition, and one
    ``mapInPandas`` call salts, groups and summarizes them all. A larger
    level is gathered by a pure JVM hash aggregation on (parent_cell, salt)
    (``collect_list`` of (node_id, text, x, y) structs, sorted in-engine →
    partition-order independent). Either way the Python kernel runs once
    per Arrow batch of groups: the summary embeddings are computed
    vectorized across all groups in the batch instead of one call per
    group.

    With >1 entry in ``models``, every parent also gets the full per-model
    ``embeddings`` map computed on its summary text (reference
    tree_builder.py:125-127: parent embeddings are re-embedded per model)."""
    embed, multi = batch_embedder(models, cluster_model, dim)
    pcell = parent_cell(F.col("cell_id"), lattice)
    schema = NODES_SCHEMA + (", embeddings MAP<STRING, ARRAY<FLOAT>>" if multi else "")
    cols = _NODE_COLS + (["embeddings"] if multi else [])
    tokenizer = RegexTokenizer()

    def summarize(groups) -> pd.DataFrame:
        """One parent row per (cell, salt, ids, texts, xs, ys, n_leaves)
        group, its members in sorted order."""
        rows = []
        summaries = []
        for cell, salt, ids, texts, xs, ys, n_leaves in groups:
            summary = extractive_summary(get_text(texts), summarization_length, tokenizer)
            summaries.append(summary)
            cell, salt = int(cell), int(salt)
            rows.append(
                {
                    "node_id": portable_hash63(f"L{next_level}|{cell}|{salt}"),
                    "level": next_level,
                    "cell_id": cell,
                    "url": None,
                    "chunk_idx": None,
                    "text": summary,
                    "x": float(np.mean(np.array(xs, dtype=np.float64))),
                    "y": float(np.mean(np.array(ys, dtype=np.float64))),
                    "children": sorted(int(i) for i in ids),
                    "token_count": tokenizer.count(summary),
                    "n_leaves": int(n_leaves),
                }
            )
        vecs = embed(summaries)  # one vectorized call per model per batch
        for i, row in enumerate(rows):
            for name, col in vecs.items():
                row[name] = col[i]
        return pd.DataFrame(rows, columns=cols)

    if level_bytes is None:
        level_bytes = nodes.select(F.sum(member_bytes())).first()[0] or 0
    bound = broadcast_bound(nodes.sparkSession)
    if level_bytes <= bound:
        logger.info(
            "level %d summarized in one task: member bytes %d <= autoBroadcastJoinThreshold %d",
            next_level, level_bytes, bound,
        )

        def summarize_level(batches):
            pdfs = [pdf for pdf in batches if not pdf.empty]
            if pdfs:  # pd.concat refuses an empty list
                groups = _salted_groups(pd.concat(pdfs, ignore_index=True), max_length_in_cluster)
                yield summarize(groups)

        level = nodes.select(*_GATHER_COLS, pcell.alias("parent_cell"))
        return level.coalesce(1).mapInPandas(summarize_level, schema)

    logger.info(
        "level %d gathered by a salted shuffle: member bytes %d > autoBroadcastJoinThreshold %d",
        next_level, level_bytes, bound,
    )
    salt_df = F.broadcast(_salt_map(nodes, pcell, max_length_in_cluster))
    staged = (
        nodes.withColumn("parent_cell", pcell)
        .join(salt_df, "parent_cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_buckets").isNotNull(),
                F.pmod(F.col("node_id"), F.col("n_buckets").cast("long")).cast("int"),
            ).otherwise(F.lit(0)),
        )
    )
    grouped = staged.groupBy("parent_cell", "salt").agg(
        F.sort_array(F.collect_list(F.struct(*_MEMBER_COLS))).alias("members"),
        F.sum("n_leaves").alias("n_leaves_sum"),
    )

    def summarize_batches(batches):
        for pdf in batches:
            if not pdf.empty:
                yield summarize(
                    (
                        r.parent_cell, r.salt,
                        *([m[c] for m in r.members] for c in _MEMBER_COLS),
                        r.n_leaves_sum,
                    )
                    for r in pdf.itertuples(index=False)
                )

    return grouped.mapInPandas(summarize_batches, schema)


def tile_stats(nodes: DataFrame, round_to: int = 6) -> DataFrame:
    """Raster bands per (level, cell): counts, token stats, centroid.
    Pure JVM aggregation (A5 — reference: benchmarks/run_compression.py:30-57).

    Centroids sum coordinates through DECIMAL(28,15): double addition is not
    associative, so a plain avg(x) depends on partition order — decimal sums
    make the bands bit-identical across parallelism levels (and against the
    DuckDB twin)."""
    dec15 = "decimal(28,15)"
    return (
        nodes.groupBy("level", "cell_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("token_count").alias("token_sum"),
            F.round(F.avg("token_count"), round_to).alias("token_avg"),
            F.min("token_count").alias("token_min"),
            F.max("token_count").alias("token_max"),
            F.round(
                F.sum(F.col("x").cast(dec15)).cast("double") / F.count("*"), round_to
            ).alias("centroid_x"),
            F.round(
                F.sum(F.col("y").cast(dec15)).cast("double") / F.count("*"), round_to
            ).alias("centroid_y"),
            F.sum("n_leaves").alias("leaf_sum"),
        )
    )


def tile_vectorize(nodes: DataFrame, round_to: int = 6) -> DataFrame:
    """Raster→vector export: one row per (level, cell) with the cell's
    boundary square (closed-form from the cell-id bit layout, same geometry
    as pipjoin.cell_polygons) and its raster-band values from tile_stats.
    This is the vector half of the raster↔vector rollup pair — tile_stats
    aggregates points into per-cell bands (rasterize); this emits each cell
    back out as a polygon feature carrying those bands (vectorize). Flat
    (x0, y0, x1, y1) corners rather than a nested ring so downstream sinks
    and the oracle hash stay on scalar columns; all geometry is JVM bit
    arithmetic — no UDF, no shuffle beyond the tile_stats aggregation."""
    from ..kernels.grid import COORD_BITS, COORD_MASK, RES_SHIFT

    res = F.shiftrightunsigned(F.col("cell_id"), RES_SHIFT)
    ix = F.shiftrightunsigned(F.col("cell_id"), COORD_BITS).bitwiseAND(F.lit(COORD_MASK))
    iy = F.col("cell_id").bitwiseAND(F.lit(COORD_MASK))
    size = F.lit(1.0) / F.pow(F.lit(2.0), res.cast("double"))
    return tile_stats(nodes, round_to).select(
        "level",
        "cell_id",
        res.cast("long").alias("res"),
        (ix.cast("double") * size).alias("x0"),
        (iy.cast("double") * size).alias("y0"),
        ((ix.cast("double") + F.lit(1.0)) * size).alias("x1"),
        ((iy.cast("double") + F.lit(1.0)) * size).alias("y1"),
        "n",
        "token_sum",
        "token_avg",
        "centroid_x",
        "centroid_y",
        "leaf_sum",
    )


def viewport_tiles(
    nodes: DataFrame,
    bbox: tuple[float, float, float, float],
    level: int,
    round_to: int = 6,
) -> DataFrame:
    """Tile-server read path: the vector tiles of ONE level that intersect a
    viewport bbox (x0, y0, x1, y1) — what a map client requests per pan/zoom.

    The level predicate prunes to one partition of the level-partitioned tree
    table and the bbox test is pure arithmetic on the cell's closed-form
    bounds (open intervals: touching edges do not intersect), so at 100 TB
    the scan reads one level and Catalyst pushes the cheap filters down —
    nothing about the viewport ever shuffles more than the level's cells."""
    vx0, vy0, vx1, vy1 = (float(v) for v in bbox)
    tiles = tile_vectorize(nodes.where(F.col("level") == level), round_to)
    return tiles.where(
        (F.col("x1") > F.lit(vx0))
        & (F.col("x0") < F.lit(vx1))
        & (F.col("y1") > F.lit(vy0))
        & (F.col("y0") < F.lit(vy1))
    )


def drill_down(
    nodes: DataFrame, parent_cell: int, level: int, round_to: int = 6
) -> DataFrame:
    """Tile-server drill-down: the child tiles (one resolution finer, one
    tree level lower) of ``parent_cell`` — the query a map client issues on
    zoom-in. The child relation is the cell-id bit shift (parent(cell) ==
    parent_cell), so the filter is pushed-down arithmetic over one level
    partition; at most 4 child cells exist, so the result is always tiny."""
    kids = nodes.where(
        (F.col("level") == level)
        & (G.cell_parent_col(F.col("cell_id"), 1) == F.lit(int(parent_cell)))
    )
    return tile_stats(kids, round_to)


def level_stats(nodes: DataFrame) -> DataFrame:
    """Per-layer tree stats incl. compression ratio vs leaf tokens
    (reference: benchmarks/run_compression.py:30-57)."""
    per_level = nodes.groupBy("level").agg(
        F.count("*").alias("n_nodes"),
        F.sum("token_count").alias("token_sum"),
        F.round(F.avg("token_count"), 6).alias("token_avg"),
        F.min("token_count").alias("token_min"),
        F.max("token_count").alias("token_max"),
    )
    leaf = per_level.filter(F.col("level") == 0).select(
        F.col("token_sum").alias("leaf_token_sum")
    )
    return per_level.crossJoin(F.broadcast(leaf)).select(
        "level",
        "n_nodes",
        "token_sum",
        "token_avg",
        "token_min",
        "token_max",
        F.round(F.col("token_sum") / F.col("leaf_token_sum"), 6).alias("compression_ratio"),
    )


def salt_bucket_count(tok_sum: int, n_members: int, max_length_in_cluster: int) -> int:
    """The number of salt buckets of a hot cell (token sum over
    ``max_length_in_cluster``): its node goes to bucket
    ``node_id % salt_bucket_count(...)``. The one-task path of
    ``build_parent_nodes`` sizes buckets with it; ``_salt_map`` is its Spark
    twin."""
    return min(math.ceil(tok_sum / max_length_in_cluster), n_members)
