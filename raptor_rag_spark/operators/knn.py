"""kNN retrieval — collapsed-tree, cell-pruned, and flat (leaf-only).

J1/J8 + W1 of SURVEY.md §2: the reference's per-query in-memory scan
(raptor/tree_retriever.py:127-151; FAISS flat search faiss_retriever.py:140-145)
becomes one *batch* operator, ``exact_topk``, the ranking of every
embedding kNN path: each Arrow batch of rows is scored against the shipped
query matrix by the numpy kernel ``kernels.topk`` and pre-limited, and one
window over the survivors gives the exact ranks and token budget.

Semantics preserved from the reference:
- rank ties broken by node order (argsort stability → orderBy(dist, node_id));
- budget: take ranked nodes while cumulative token_count ≤ max_tokens (the
  reference *breaks* at the first overflow; cumulative sums are monotone so
  the filter is equivalent — tree_retriever.py:137-146);
- "threshold" selection mode keeps nodes with distance > threshold — the
  reference's (deliberately preserved) inverted comparison
  (tree_retriever.py:164-165, SURVEY.md P3).

Scale path: ``cell_pruned_knn`` prunes candidates to the query's cell
neighborhood at each level via an equi-join on cell_id (broadcast of
query×neighborhood pairs) — the "broadcast-spatial-index kNN over cell-pruned
candidates" of the north star. Approximate by design (embedding-space kNN
pruned by tile locality); ``collapsed_knn`` is the exact path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..kernels import topk
from ..kernels.distances import COS_SIM
from ..kernels.embedder import DEFAULT_DIM
from ..kernels.grid import COORD_BITS, RES_SHIFT
from ..kernels.reduce import project_xy

RESULT_COLS = ("query_id", "node_id", "level", "rank", "dist", "text", "token_count")


def local_queries(queries: DataFrame | pd.DataFrame) -> pd.DataFrame:
    """(query_id, q_embedding) on the driver: a Spark frame is collected
    once (the rows a broadcast build side held), a pandas one used as is."""
    if isinstance(queries, DataFrame):
        return queries.select("query_id", "q_embedding").toPandas()
    return queries


def exact_topk(
    rows: DataFrame,
    queries: DataFrame | pd.DataFrame,
    model: str | None = None,
    id_col: str = "node_id",
    metric: str = "cosine",
    dim: int = DEFAULT_DIM,
    top_k: int | None = None,
    max_tokens: int | None = None,
    threshold: float | None = None,
    rounded: bool = False,
) -> DataFrame:
    """(query_id, ``id_col``, rank, score[, token_count]) of each query's
    selection under the cuts of ``kernels.topk``. The score is ``dist``, or
    ``cos_sim`` (highest first) for that metric; ``rounded`` ranks it
    rounded to 6 decimals. ``model`` names a vector of the multi-model
    ``embeddings`` map (reference retrieval_augmentation.py:56-64); None
    reads ``embedding``. Only the columns the ranking reads cross into
    Python: ``id_col``, the vector, ``token_count`` with ``max_tokens``, and
    ``query_id`` when ``rows`` are given (query, row) pairs."""
    topk.require_cut(top_k, max_tokens, threshold)
    q = local_queries(queries)
    q_ids, q_mat = q["query_id"].to_numpy("int64"), topk.matrix(q["q_embedding"], dim)
    score = COS_SIM if metric == COS_SIM else "dist"
    paired = ["query_id"] if "query_id" in rows.columns else []
    budget = ["token_count"] if max_tokens is not None else []
    vector = F.expr(f"embeddings['{model}']") if model else F.col("embedding")
    src = rows.select(*paired, id_col, *budget, F.slice(vector, 1, dim).alias("__v"))
    types = {f.name: f.dataType.simpleString() for f in src.schema}
    schema = ", ".join([f"query_id bigint, {id_col} {types[id_col]}, {score} double"]
                       + [f"{c} {types[c]}" for c in budget])
    cut = dict(top_k=top_k, max_tokens=max_tokens, threshold=threshold,
               slack=topk.ROUND_SLACK if rounded else 0.0)

    def ranked(batches):  # no type hints: mapInPandas can't read stringified ones
        for part in batches:  # each Arrow batch keeps its pre-limit superset
            ids, tokens = part[id_col].to_numpy(), part["token_count"].to_numpy() if budget else None
            qid, at, value = topk.partition_topk(
                q_ids, q_mat, ids, topk.matrix(part["__v"], dim), tokens,
                part["query_id"].to_numpy() if paired else None, metric, **cut,
            )
            out = pd.DataFrame({"query_id": qid, id_col: ids[at], score: value})
            if budget:
                out["token_count"] = tokens[at]
            yield out

    out = src.mapInPandas(ranked, schema)
    if rounded:
        out = out.withColumn(score, F.round(score, 6))
    w = Window.partitionBy("query_id").orderBy(F.desc(score) if metric == COS_SIM else score, id_col)
    out = out.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    if max_tokens is not None:
        cum = F.sum("token_count").over(w.rowsBetween(Window.unboundedPreceding, 0))
        out = out.withColumn("cum_tokens", cum).filter(F.col("cum_tokens") <= max_tokens)
    return out.select("query_id", id_col, "rank", score, *budget)


def with_nodes(
    ranked: DataFrame, nodes: DataFrame, cols: tuple[str, ...] = RESULT_COLS, broadcast: bool = True
) -> DataFrame:
    """``ranked`` with the node columns of ``cols`` it lacks, joined back by
    node_id; the selection is the small side."""
    extra = [c for c in cols if c not in ranked.columns]
    side = F.broadcast(ranked) if broadcast else ranked
    return nodes.select("node_id", *extra).join(side, "node_id").select(*cols)


def collapsed_knn(
    nodes: DataFrame,
    queries: DataFrame | pd.DataFrame,
    top_k: int | None = 10,
    max_tokens: int | None = 3500,
    dim: int = DEFAULT_DIM,
    distance_metric: str = "cosine",
    model: str | None = None,
) -> DataFrame:
    """Exact kNN over all levels (collapsed tree). queries: (query_id,
    q_embedding), Spark or pandas; ``model`` as in ``exact_topk``."""
    ranked = exact_topk(
        nodes, queries, model, metric=distance_metric, dim=dim, top_k=top_k, max_tokens=max_tokens
    )
    return with_nodes(ranked, nodes)


def flat_knn(
    nodes: DataFrame,
    queries: DataFrame | pd.DataFrame,
    top_k: int | None = 5,
    max_tokens: int | None = 3500,
    dim: int = DEFAULT_DIM,
    distance_metric: str = "cosine",
    model: str | None = None,
) -> DataFrame:
    """Leaf-only kNN (the FAISS-flat equivalent, J8)."""
    return collapsed_knn(
        nodes.filter(F.col("level") == 0), queries, top_k, max_tokens, dim, distance_metric, model
    )


def query_homes(
    spark: SparkSession, queries: pd.DataFrame, resolutions: list[int], dim: int = DEFAULT_DIM
) -> DataFrame:
    """(query_id, res, ix, iy) home cells per resolution of the local query
    rows, one row per query×resolution: ``reduce.project_xy`` is the fold of
    ``sqlgen.xy_cols`` bit for bit, and x·2^res is exact, so the cells are
    those of the Spark expression."""
    xy = project_xy(topk.matrix(queries["q_embedding"], dim))
    rows = []
    for res in sorted(set(resolutions)):
        n = 1 << res
        cells = np.clip(np.floor(xy * float(n)), 0, n - 1).astype(np.int64).tolist()
        rows += [(q, res, ix, iy) for q, (ix, iy) in zip(queries["query_id"].tolist(), cells)]
    return spark.createDataFrame(rows, "query_id long, res int, ix long, iy long")


def ring_cells(homes: DataFrame, radius_col: F.Column, extra: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, res, *extra, cell_id) for the (2r+1)^2 neighborhood around
    each home cell, grid-clipped — `explode(sequence(...))` expressions,
    exactly the shape soft_assignments uses (operators/pipjoin.py), never a
    collect. ``extra`` columns (e.g. the candidate-radius index) pass
    through untouched."""
    n = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(res AS INT))")
    keep = ["query_id", "res", *extra]
    out = homes.withColumn("r", radius_col)
    out = out.select(*keep, "ix", "iy", "r",
                     F.explode(F.sequence(-F.col("r"), F.col("r"))).alias("dx"))
    out = out.select(*keep, "ix", "iy", "r", "dx",
                     F.explode(F.sequence(-F.col("r"), F.col("r"))).alias("dy"))
    jx = F.col("ix") + F.col("dx")
    jy = F.col("iy") + F.col("dy")
    cell = (
        F.shiftleft(F.col("res").cast("long"), RES_SHIFT)
        .bitwiseOR(F.shiftleft(jx, COORD_BITS))
        .bitwiseOR(jy)
    )
    return out.filter((jx >= 0) & (jx < n) & (jy >= 0) & (jy < n)).select(
        *keep, cell.alias("cell_id")
    )


def corpus_cell_counts(nodes: DataFrame) -> DataFrame:
    """Per-cell node counts, materialized. Corpus-dependent but
    query-INdependent: compute once per corpus (or per tree build) and pass
    to every cell_pruned_knn / grid_knn call to skip the per-call
    aggregation barrier — the interactive-latency amortization the r2 audit
    asked for."""
    return nodes.groupBy("cell_id").agg(F.count("*").alias("n_in_cell")).localCheckpoint(
        eager=True
    )


def _initial_radius(
    cell_counts: DataFrame, resolutions: list[int], need: int, max_radius: int
) -> DataFrame:
    """Density-informed seed radius per resolution, fully declarative:
    (res, radius) rows sized so the seed ring's EXPECTED population covers
    ``need`` (uniform estimate), keeping the doubling sequence in
    _choose_radii short and its rings small. Joined onto homes (broadcast,
    ≤ len(resolutions) rows) — no driver collect; the arithmetic is the
    pinned IEEE order the DuckDB oracle replicates (contract `r0` CTE):
    side = ceil(sqrt(need / (total / 4^res))), r0 = clamp(side // 2, 1,
    max_radius); empty resolution → max_radius."""
    spark = cell_counts.sparkSession
    res_df = spark.createDataFrame([(int(r),) for r in sorted(set(resolutions))], "res int")
    totals = (
        cell_counts.withColumn(
            "res", F.shiftrightunsigned(F.col("cell_id"), RES_SHIFT).cast("int")
        )
        .groupBy("res")
        .agg(F.sum("n_in_cell").alias("total"))
    )
    # 4^res = 1 << 2*res is exact in double, so density and the seed side
    # come out bit-identical to the former driver-side math.ceil/sqrt path
    density = F.col("total").cast("double") / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 2 * res) AS DOUBLE)"
    )
    side = F.ceil(F.sqrt(F.lit(float(need)) / density))
    r0 = F.least(
        F.greatest(F.floor(side / F.lit(2)).cast("long"), F.lit(1).cast("long")),
        F.lit(max_radius).cast("long"),
    )
    radius = F.when(F.col("total").isNotNull() & (F.col("total") > 0), r0).otherwise(
        F.lit(max_radius).cast("long")
    )
    return res_df.join(F.broadcast(totals), "res", "left").select(
        "res", radius.alias("radius")
    )


def _choose_radii(
    homes: DataFrame, cell_counts: DataFrame, need: int, max_radius: int
) -> tuple[DataFrame, DataFrame]:
    """Per (query, res): the FIRST radius of the doubling sequence
    radius*2^t (t = 0, 1, ...; ≤ max_radius) whose ring holds ≥ ``need``
    candidates. Returns (homes with that final radius, never-satisfied
    leftovers).

    Closed form, not a loop: the doubling sequence has ≤ log2(max_radius)+1
    members, so ALL candidate radii are examined in ONE declarative plan
    (explode t → ring cells → count ≥ need → min t). Semantically identical
    to iterative widening, but zero driver-side round trips — the old loop
    paid one localCheckpoint + isEmpty job per iteration (~1-2 s each of
    fixed overhead here, and a full cluster-wide barrier per round at
    scale)."""
    t_hi = max(max_radius, 1).bit_length()
    r_of_t = F.expr("radius * shiftleft(CAST(1 AS BIGINT), CAST(t AS INT))")
    radii = (
        homes.withColumn("t", F.explode(F.sequence(F.lit(0), F.lit(t_hi))))
        .withColumn("r", r_of_t)
        .filter(F.col("r") <= max_radius)
    )
    # materialized: best_t is (queries × resolutions) rows and feeds BOTH the
    # chosen-side candidate broadcast and the fallback anti-join broadcast —
    # without this the ring-count aggregation runs once per consumer
    best_t = (
        ring_cells(radii, F.col("r"), extra=("t",))
        .join(cell_counts, "cell_id")
        .groupBy("query_id", "res", "t")
        .agg(F.sum("n_in_cell").alias("n_cand"))
        .filter(F.col("n_cand") >= need)
        .groupBy("query_id", "res")
        .agg(F.min("t").alias("t"))
        .localCheckpoint(eager=True)
    )
    # best_t is (queries × resolutions) rows — the operator's designed small
    # side at any corpus scale, so hint it explicitly (the checkpointed homes
    # join output no longer carries size stats Catalyst could infer from)
    chosen = (
        homes.join(F.broadcast(best_t), ["query_id", "res"])
        .withColumn("radius", r_of_t)
        .drop("t")
    )
    leftover = homes.join(F.broadcast(best_t), ["query_id", "res"], "left_anti")
    return chosen, leftover


def cell_pruned_knn(
    nodes: DataFrame,
    queries: DataFrame | pd.DataFrame,
    levels_res: dict[int, int],
    top_k: int = 10,
    max_tokens: int | None = 3500,
    dim: int = DEFAULT_DIM,
    distance_metric: str = "cosine",
    max_radius: int = 8,
    oversample: int = 8,
    cell_counts: DataFrame | None = None,
) -> DataFrame:
    """Approximate kNN restricted to each query's cell neighborhood, with
    recall-safe adaptive ring widening (SURVEY.md §7 hard-point e).

    Per (query, resolution), the smallest ring of the doubling sequence
    (r0, 2r0, 4r0, ..., ≤ max_radius) holding ≥ oversample×top_k candidate
    nodes is selected in one declarative pass (_choose_radii; the
    oversampling buys back recall lost to the 2D projection); queries still
    short at max_radius fall back to an exact scan of that resolution's
    nodes — the operator can never return fewer than top_k results while a
    full level exists, closing the silent tile-boundary recall hole. No
    per-iteration driver round trips: one cell-counts materialization, one
    metadata-scale density collect, then one plan ranked by ``exact_topk``.

    Approximate BY DESIGN for full-embedding-space metrics: candidates are
    pruned by 2D tile locality but ranked by ``distance_metric`` in the
    64-dim space, where the projection gives no distance bound. The measured
    recall vs the exact collapsed scan is reported by the
    ``cell_knn_recall`` contract query; ``grid_knn`` is the tile-space kNN
    with a PROVABLE exactness guarantee.

    levels_res: {level: resolution} as built by the tree plan; cell ids
    encode their resolution, so the candidate equi-join on cell_id lands on
    the right level automatically.
    """
    resolutions = sorted(set(levels_res.values()))
    queries = local_queries(queries)
    if cell_counts is None:
        cell_counts = corpus_cell_counts(nodes)
    need = oversample * top_k
    homes = query_homes(nodes.sparkSession, queries, resolutions, dim).join(
        F.broadcast(_initial_radius(cell_counts, resolutions, need, max_radius)), "res"
    )
    ring_homes, pending = _choose_radii(homes, cell_counts, need, max_radius)
    cand = ring_cells(ring_homes, F.col("radius")).select("query_id", "cell_id")
    pruned = nodes.join(F.broadcast(cand), "cell_id")

    # exact fallback: scan every node at that resolution for never-satisfied
    # (query, res) pairs — guaranteed ≥ top_k, bounded to (few queries) ×
    # (one resolution's nodes). Composed declaratively (empty when all
    # queries satisfied) so the whole operator stays ONE Spark action.
    node_res = F.shiftrightunsigned(F.col("cell_id"), RES_SHIFT).cast("long")
    fb = nodes.withColumn("res", node_res).join(
        F.broadcast(pending.select("query_id", "res")), "res"
    ).drop("res")
    pruned = pruned.unionByName(fb.select(*pruned.columns))
    ranked = exact_topk(
        pruned, queries, metric=distance_metric, dim=dim, top_k=top_k, max_tokens=max_tokens
    )
    return with_nodes(ranked, nodes)


def grid_knn(
    points: DataFrame,
    queries: DataFrame,
    res: int,
    k: int = 10,
    id_col: str = "vec_id",
    max_radius: int = 64,
    cell_counts: DataFrame | None = None,
) -> DataFrame:
    """EXACT tile-space kNN join via grid ring search — the classic
    grid-index algorithm with the covering-radius guarantee.

    points: (id, x, y); queries: (query_id, x, y), coordinates in [0,1].
    Phase 1 widens each query's ring until ≥ k candidates; phase 2 computes
    the kth candidate distance d_k and regathers at R = ceil(d_k / cell)
    cells. Any point outside ring R is at L∞ (hence L2) distance > R·cell ≥
    d_k from the query, so the final top-k is provably the true top-k —
    recall 1.0 by construction, verified against a brute-force DuckDB twin.
    All phases are column expressions; the driver loop touches counts only.
    """
    s = 1.0 / (1 << res)
    # NOTE: deliberately not cached/checkpointed — the projection + cell
    # encode are whole-stage-codegen expressions; recomputing them per phase
    # costs three pruned column scans, while materializing the full points
    # side would not survive a 100-TB corpus
    pts = points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        G.cell_col(F.col("x"), F.col("y"), res).alias("cell_id"),
    )
    n = 1 << res
    qix = F.greatest(F.least(F.floor(F.col("x") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    qiy = F.greatest(F.least(F.floor(F.col("y") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    homes = queries.select(
        "query_id",
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.lit(res).alias("res"),
        qix.alias("ix"),
        qiy.alias("iy"),
    ).localCheckpoint(eager=True)

    if cell_counts is None:
        cell_counts = corpus_cell_counts(pts)
    ring_homes, pending = _choose_radii(
        homes.select("query_id", "res", "ix", "iy").join(
            F.broadcast(_initial_radius(cell_counts, [res], k, max_radius)), "res"
        ),
        cell_counts,
        k,
        max_radius,
    )
    # fewer than k points inside max_radius: take the whole grid (empty
    # unless the corpus is tiny — composed declaratively, no isEmpty job)
    ring_homes = ring_homes.unionByName(
        pending.withColumn("radius", F.lit(1 << res).cast("long"))
    )

    dist2 = (F.col("qx") - F.col("px")) * (F.col("qx") - F.col("px")) + (
        F.col("qy") - F.col("py")
    ) * (F.col("qy") - F.col("py"))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")

    def gather(homes_r: DataFrame) -> DataFrame:
        cand = ring_cells(homes_r, F.col("radius")).select("query_id", "cell_id")
        return (
            pts.join(F.broadcast(cand), "cell_id")
            .join(F.broadcast(homes.select("query_id", "qx", "qy")), "query_id")
            .withColumn("d2", dist2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # phase 2: covering-radius check — regather where the kth distance
    # exceeds what ring-1 radius provably covers
    kth = gather(ring_homes).groupBy("query_id").agg(F.max(F.sqrt(F.col("d2"))).alias("d_k"))
    final_r = F.greatest(
        F.col("radius"),
        F.least(F.ceil(F.col("d_k") / F.lit(s)).cast("long"), F.lit(int(n))),
    )
    homes2 = (
        ring_homes.join(kth, "query_id")
        .withColumn("radius", final_r)
        .select("query_id", "res", "ix", "iy", "radius")
    )
    out = gather(homes2)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round(F.sqrt(F.col("d2")), 6).alias("dist"),
    )


def retrieval_context(results: DataFrame) -> DataFrame:
    """Per-query context string, byte-identical to the reference's get_text
    (raptor/utils.py:115-118): rank-ordered texts with intra-node newlines
    collapsed, '\\n\\n'-joined, trailing '\\n\\n'.

    Traversal results carry a ``round`` column (one per descent level); the
    reference appends nodes per-layer in selection order
    (tree_retriever.py:153-182), so ordering is (round, rank) there — rank
    alone restarts each round and would interleave layers."""
    cleaned = F.regexp_replace(F.regexp_replace("text", r"\r\n|\r|\n", "\n"), r"\n", " ")
    per_node = results.withColumn("clean_text", cleaned)
    order = ["round", "rank"] if "round" in results.columns else ["rank"]
    return (
        per_node.groupBy("query_id")
        .agg(
            F.concat(
                F.concat_ws("\n\n", F.array_sort(F.collect_list(F.struct(*order, "clean_text"))).getField("clean_text")),
                F.lit("\n\n"),
            ).alias("context"),
            F.sort_array(F.collect_list(F.struct(*order, "node_id", "level"))).alias("layer_information"),
        )
    )
