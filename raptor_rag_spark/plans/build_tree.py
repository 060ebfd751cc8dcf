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

One level loop (``_grow``, inherently iterative, like Spark's own iterative
algorithms) runs a build, a resumed build and an incremental update; they
differ only in the step that makes a level from the one below — a full
build is the update in which every cell is dirty. Each level is committed
by one Spark job that also observes the level's row count, for the stop
rule, and its ``member_bytes`` sum, which picks how the next level gathers
it: checkpointed, the level's write (reading it back runs no job);
otherwise an eager ``localCheckpoint``, which truncates the lineage and
registers no cached plan in the SparkSession. Metrics are appended once, at
the end.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import ClusterTreeConfig
from ..operators.core import leaf_nodes
from ..operators.rollup import build_parent_nodes, member_bytes, parent_cell
from ..sources.checkpoint import TreeCheckpoint
from ..sources.metrics import MetricsTable


def _operator_kwargs(cfg: ClusterTreeConfig) -> dict:
    """The embedding models and lattice, which every tree operator takes."""
    return {
        "models": cfg.embedding_models,
        "cluster_model": cfg.cluster_embedding_model,
        "lattice": cfg.lattice,
    }


def _leaves(docs: DataFrame, cfg: ClusterTreeConfig, id_col: str, text_col: str) -> DataFrame:
    return leaf_nodes(
        docs, id_col, text_col, cfg.max_tokens, cfg.max_resolution, **_operator_kwargs(cfg)
    )


def _parents(nodes: DataFrame, level: int, cfg: ClusterTreeConfig, size: int) -> DataFrame:
    return build_parent_nodes(
        nodes,
        next_level=level,
        summarization_length=cfg.summarization_length,
        max_length_in_cluster=cfg.max_length_in_cluster,
        level_bytes=size,
        **_operator_kwargs(cfg),
    )


def _sizes() -> list[Column]:
    """A level's row count (the stop rule) and ``member_bytes`` sum (how its
    parent level is gathered)."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(member_bytes()), F.lit(0)).alias("bytes"),
    ]


def _commit(
    df: DataFrame, level: int, ckpt: TreeCheckpoint | None = None, extra: dict | None = None
) -> tuple[DataFrame, int, int]:
    """Materialize one level in one Spark job; returns it, its row count and
    its ``member_bytes`` sum, observed by that same job."""
    observed = Observation()
    df = df.observe(observed, *_sizes())
    if ckpt:
        ckpt.write_level(df, level, extra=extra)
        df = ckpt.read_level(df.sparkSession, level)
    else:
        df = df.localCheckpoint(eager=True)
    return df, observed.get["rows"], observed.get["bytes"]


def _grow(
    cfg: ClusterTreeConfig,
    levels: list[DataFrame],
    rows: int,
    size: int,
    step,
    ckpt: TreeCheckpoint | None = None,
) -> list[DataFrame]:
    """RAPTOR's level loop: on top of the committed ``levels``, the last one
    holding ``rows`` nodes of ``size`` member bytes, commit
    ``step(level, below, size)`` one resolution coarser at a time until the
    stop rule fires."""
    for level in range(len(levels), cfg.num_layers + 1):
        res = cfg.max_resolution - level
        if rows <= cfg.reduction_dimension + 1 or res < 0:
            break  # reference stop rule (cluster_tree_builder.py:91-94)
        below, rows, size = _commit(step(level, levels[-1], size), level, ckpt, {"res": res})
        levels.append(below)
    return levels


def _union(levels: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), levels)


def build_tree(
    docs: DataFrame,
    config: ClusterTreeConfig | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build all levels; returns the unioned nodes DataFrame.

    With a checkpoint_dir the build is config-keyed: a completed tree under
    the same config hash is returned without running any jobs
    (skip-if-exists), a killed build resumes after its last committed level,
    and a dir written under a DIFFERENT config raises (reference
    benchmarks/_tree_cache.py:27-51)."""
    cfg = config if config is not None else ClusterTreeConfig()
    spark = docs.sparkSession
    ckpt = TreeCheckpoint(checkpoint_dir, cfg.config_hash()) if checkpoint_dir else None
    if ckpt and ckpt.is_complete():
        return ckpt.read_all(spark)

    start = ckpt.resume_level() if ckpt else 0
    if start:
        levels = [ckpt.read_level(spark, lv) for lv in range(start)]
        # its manifest keeps its rows but not its bytes: one job measures both
        rows, size = levels[-1].agg(*_sizes()).first()
    else:
        extra = {"stage": "leaves", "res": cfg.max_resolution}
        leaves, rows, size = _commit(_leaves(docs, cfg, id_col, text_col), 0, ckpt, extra)
        levels = [leaves]
    levels = _grow(
        cfg, levels, rows, size, lambda level, below, size: _parents(below, level, cfg, size), ckpt
    )

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
    return _union(levels)


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

    The dirty-cell set stays a DataFrame end-to-end (metadata-scale: bounded
    by cells, not documents): per level ``select(parent).distinct()``, with
    affected nodes picked by a broadcast LEFT SEMI join and untouched ones by
    a broadcast LEFT ANTI join. Nothing is collected to the driver: the
    millions of cells a 0.1% crawl of a 100-TB corpus touches would blow up
    Catalyst as an ``isin`` literal list before any task ran."""
    cfg = config if config is not None else ClusterTreeConfig()

    # truncate the incoming tree's lineage: the level loop references it 2×
    # per level (kept branch + level filter); untruncated, each level's plan
    # re-embeds the whole build lineage and a 1% update runs slower than a
    # full rebuild (150 s vs 10 s at sf0.01). The same job observes the base
    # leaf count, member bytes and top level, so the leaf level is not copied
    # again
    base = Observation()
    leaf = F.col("level") == 0
    tree = tree.observe(
        base,
        F.count(F.when(leaf, 1)).alias("rows"),
        F.coalesce(F.sum(F.when(leaf, member_bytes())), F.lit(0)).alias("bytes"),
        F.max("level").alias("top"),
    ).localCheckpoint(eager=True)
    new_leaves, new_rows, new_bytes = _commit(_leaves(new_docs, cfg, id_col, text_col), 0)
    leaves = tree.filter(F.col("level") == 0).unionByName(new_leaves)
    # a base tree shallower than the union build (the stop rule is monotone
    # in corpus size) keeps no node above base_max: those levels are all dirty
    base_max = base.get["top"] or 0
    dirty = new_leaves.select(F.col("cell_id").alias("dirty_cell"))

    def step(level: int, below: DataFrame, size: int) -> DataFrame:
        nonlocal dirty
        if level > base_max:
            return _parents(below, level, cfg, size)
        # one-column DataFrame of this level's cells with a new descendant;
        # eager localCheckpoint keeps each level's plan O(1), not O(level)
        # distincts
        dirty = (
            dirty.select(parent_cell(F.col("dirty_cell"), cfg.lattice).alias("dirty_cell"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cells = F.broadcast(dirty)
        affected = below.join(
            cells, parent_cell(F.col("cell_id"), cfg.lattice) == F.col("dirty_cell"), "left_semi"
        )
        kept = tree.filter(F.col("level") == level).join(
            cells, F.col("cell_id") == F.col("dirty_cell"), "left_anti"
        )
        # the level below bounds the affected nodes' bytes
        return kept.unionByName(_parents(affected, level, cfg, size))

    rows, size = base.get["rows"] + new_rows, base.get["bytes"] + new_bytes
    return _union(_grow(cfg, [leaves], rows, size, step))
