"""The tile-tree build plan — RAPTOR's level loop as per-resolution rollups.

Mirrors ClusterTreeBuilder.construct_tree (reference:
raptor/cluster_tree_builder.py:50-131) with the geospatial recast:

- level 0 = chunk → embed → project → cell at ``max_resolution``;
- each iteration groups level-k nodes by the parent cell one resolution
  coarser and emits one summary parent per (cell, salt bucket) — the
  cluster→summary→parent step (reference :62-79, :84-129);
- stop when a level has ≤ reduction_dimension + 1 nodes (reference :91-94)
  or resolution 0 is reached, or num_layers levels were built;
- every level is an atomic checkpoint commit; a killed build resumes from
  max committed level (north-rule checkpoint/resume).

The loop itself is driver-side (inherently iterative, like Spark's own
iterative algorithms). Checkpointed, a level costs one Spark job, its write,
and the stop rule reads the manifest's ``rows``; uncheckpointed, each level
is cached and ``count()``-ed. Metrics are appended once, at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from ..config import ClusterTreeConfig
from ..functions import sqlgen as G
from ..kernels.embedder import DEFAULT_DIM, HashNgramEmbeddingModel
from ..operators.core import leaf_nodes
from ..operators.rollup import build_parent_nodes
from ..sources.checkpoint import TreeCheckpoint
from ..sources.metrics import MetricsTable


def _models_arg(cfg: ClusterTreeConfig) -> dict | None:
    """None when the config is the stock single default hash model (keeps the
    fast direct-kernel path and round-1 bit-compat); otherwise the model dict
    for per-model embedding (multi-model surface)."""
    ms = cfg.embedding_models
    only = ms.get("default") if len(ms) == 1 else None
    if (
        isinstance(only, HashNgramEmbeddingModel)
        and getattr(only, "seed", "") == ""
        and only.dim == DEFAULT_DIM
    ):
        return None
    return ms


class TileTreeBuilder:
    def __init__(self, config: ClusterTreeConfig | None = None):
        self.config = config if config is not None else ClusterTreeConfig()

    def build(
        self,
        docs: DataFrame,
        checkpoint_dir: str | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        resume: bool = True,
    ) -> DataFrame:
        """Build all levels; returns the unioned nodes DataFrame.

        With a checkpoint_dir the build is config-keyed: a completed tree
        under the same config hash is returned without running any jobs
        (skip-if-exists); a dir written under a DIFFERENT config raises
        (reference benchmarks/_tree_cache.py:27-51)."""
        cfg = self.config
        spark = docs.sparkSession
        ckpt = TreeCheckpoint(checkpoint_dir, cfg.config_hash()) if checkpoint_dir else None

        if ckpt and resume and ckpt.is_complete():
            return ckpt.read_all(spark)

        start_level = ckpt.resume_level() if (ckpt and resume) else 0
        models = _models_arg(cfg)
        lattice = getattr(cfg, "lattice", "quad")

        def commit(df: DataFrame, level: int, extra: dict) -> DataFrame:
            # checkpointed: one write job, read back without a job; otherwise
            # cache to truncate lineage across the level loop
            if not ckpt:
                return df.cache()
            ckpt.write_level(df, level, extra=extra)
            return ckpt.read_level(spark, level)

        if start_level == 0:
            leaves = leaf_nodes(
                docs,
                id_col,
                text_col,
                cfg.max_tokens,
                cfg.max_resolution,
                models=models,
                cluster_model=cfg.cluster_embedding_model,
                lattice=lattice,
            )
            levels = [commit(leaves, 0, {"stage": "leaves", "res": cfg.max_resolution})]
        else:
            levels = [ckpt.read_level(spark, lv) for lv in range(start_level)]

        for level in range(len(levels), cfg.num_layers + 1):
            n_current = ckpt.manifest(level - 1)["rows"] if ckpt else levels[-1].count()
            if n_current <= cfg.reduction_dimension + 1:
                break  # reference stop rule (cluster_tree_builder.py:91-94)
            res = cfg.max_resolution - (level - 1)
            if res - 1 < 0:
                break
            parents = build_parent_nodes(
                levels[-1],
                next_level=level,
                summarization_length=cfg.summarization_length,
                max_length_in_cluster=cfg.max_length_in_cluster,
                models=models,
                cluster_model=cfg.cluster_embedding_model,
                lattice=lattice,
            )
            levels.append(commit(parents, level, {"res": res - 1}))

        if ckpt:
            ckpt.mark_complete(len(levels))
            # S8 final-results / per-level metrics sink (reference
            # benchmarks/_progress.py:24-58): one append for the whole build,
            # levels committed by an earlier killed run included
            run_id = cfg.config_hash()[:12]
            manifests = [ckpt.manifest(lv) for lv in range(len(levels))]
            MetricsTable(os.path.join(checkpoint_dir, "_metrics")).append(
                spark,
                [
                    {"run_id": run_id, "kind": "tree_level", "key": str(m["level"]),
                     "rows": m["rows"], "wall_ms": m["wall_ms"]}
                    for m in manifests
                ]
                + [{"run_id": run_id, "kind": "final", "key": "build",
                    "rows": len(levels), "wall_ms": 0}],
            )
        out = levels[0]
        for df in levels[1:]:
            out = out.unionByName(df)
        return out


def build_tree(
    docs: DataFrame,
    config: ClusterTreeConfig | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    return TileTreeBuilder(config).build(docs, checkpoint_dir, id_col, text_col)


def load_tree(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return TreeCheckpoint(checkpoint_dir).read_all(spark)


def update_tree(
    tree: DataFrame,
    new_docs: DataFrame,
    config: ClusterTreeConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental tree maintenance: fold ``new_docs`` into an existing tree
    recomputing ONLY the dirty tiles — bit-identical to a full rebuild over
    the union corpus (the invariant the test suite asserts).

    No reference analogue (add_documents is rebuild-only,
    retrieval_augmentation.py:170-178); this is the scale surface an engine
    needs when 100 TB is already built and today's crawl adds 0.1%: at each
    level only cells containing new/changed children re-aggregate, every
    untouched node passes through with a broadcast anti-join (no shuffle).
    Dirtiness propagates geometrically — dirty(k+1) = parent(dirty(k)) — so
    recomputed work per level is O(new data), not O(corpus). All parent
    node ids, salts and summaries are deterministic functions of a cell's
    own members, which is what makes touched-cell recompute == full rebuild.

    The dirty-cell set stays a DataFrame end-to-end (one DISTINCT over the
    new leaves, metadata-scale: bounded by cells, not documents) — affected
    nodes are selected with a broadcast LEFT SEMI join and untouched nodes
    with a broadcast LEFT ANTI join, and per-level propagation is
    ``select(parent).distinct()``. Nothing is ever collected to the driver:
    a 0.1% daily crawl over a 100-TB corpus touches millions of distinct
    cells, which as an ``isin`` literal list would blow up Catalyst before
    any task ran; as a broadcast-hash semi/anti join it is one small-table
    exchange per level."""
    cfg = config if config is not None else ClusterTreeConfig()
    models = _models_arg(cfg)

    # truncate the incoming tree's lineage: the level loop below references
    # it 2× per level (kept branch + level filter), and without truncation
    # each level's logical plan re-embeds the ENTIRE build lineage again —
    # Catalyst re-analysis grows multiplicatively and the 1% update ends up
    # slower than a full rebuild (measured 150 s vs 10 s at sf0.01)
    tree = tree.localCheckpoint(eager=True)
    new_leaves = leaf_nodes(
        new_docs,
        id_col,
        text_col,
        cfg.max_tokens,
        cfg.max_resolution,
        models=models,
        cluster_model=cfg.cluster_embedding_model,
        lattice=getattr(cfg, "lattice", "quad"),
    ).localCheckpoint(eager=True)
    current = tree.filter(F.col("level") == 0).unionByName(new_leaves)
    levels = [current]
    # if the base tree stopped shallower than the union build will (the
    # count-based stop rule is monotone in corpus size), every level beyond
    # base_max has no kept nodes — the whole level is dirty
    base_max = tree.agg(F.max("level")).collect()[0][0] or 0
    lattice = getattr(cfg, "lattice", "quad")
    # one-column DataFrame of level-1 cells containing new children; eager
    # localCheckpoint keeps each level's plan O(1), not O(level) distincts
    dirty = (
        new_leaves.select(_parent_cell_col(lattice).alias("dirty_cell"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    for level in range(1, cfg.num_layers + 1):
        n_current = current.count()
        if n_current <= cfg.reduction_dimension + 1:
            break
        res = cfg.max_resolution - (level - 1)
        if res - 1 < 0:
            break
        parent_cell = _parent_cell_col(lattice)
        affected = (
            current
            if level > base_max
            else current.withColumn("__pcell", parent_cell)
            .join(F.broadcast(dirty), F.col("__pcell") == F.col("dirty_cell"), "left_semi")
            .drop("__pcell")
        )
        recomputed = build_parent_nodes(
            affected,
            next_level=level,
            summarization_length=cfg.summarization_length,
            max_length_in_cluster=cfg.max_length_in_cluster,
            models=models,
            cluster_model=cfg.cluster_embedding_model,
            lattice=lattice,
        )
        if level > base_max:
            current = recomputed.localCheckpoint(eager=True)
        else:
            kept = tree.filter(F.col("level") == level).join(
                F.broadcast(dirty), F.col("cell_id") == F.col("dirty_cell"), "left_anti"
            )
            # localCheckpoint (not cache): truncates the per-level plan so
            # level k+1 analyzes O(level-k) work, not the whole history
            current = kept.unionByName(recomputed).localCheckpoint(eager=True)
        levels.append(current)
        # every parent of a dirty cell must re-aggregate at the next level
        dirty = (
            dirty.select(_parent_cell_of(F.col("dirty_cell"), lattice).alias("dirty_cell"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out


def _parent_cell_py(cell: int, lattice: str = "quad") -> int:
    if lattice == "hex":
        from ..functions.hexgen import hex_parent_packed_py

        return hex_parent_packed_py(cell)
    from ..kernels.grid import cell_parent

    return int(cell_parent(cell, 1))


def _parent_cell_of(col: F.Column, lattice: str) -> F.Column:
    """Packed parent-cell expression over an arbitrary cell column."""
    if lattice == "hex":
        from ..functions.hexgen import hex_parent_packed_col

        return hex_parent_packed_col(col)
    return G.cell_parent_col(col, 1)


def _parent_cell_col(lattice: str):
    from ..operators.rollup import _parent_cell_expr

    return _parent_cell_expr(lattice)
