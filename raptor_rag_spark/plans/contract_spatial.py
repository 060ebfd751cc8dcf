"""Spatial / geodesy / raster / graph / lakehouse contract twins.

PURE MOVE from plans/contract.py (round-5 verdict #8: registry hygiene —
contract.py was 8.8k lines and every rotation reorder produced huge diffs in
one hot file). No logic changed; this module holds the cell-set / polyfill /
KDE-raster / scan-statistics / geostatistics / link-graph / lakehouse /
trajectory query+oracle pairs, and plans/contract.py re-imports every public
and ``_sql_*`` name so the registry and all external callers are unchanged.

Shared helpers come from ``plans/contract_base.py``. The tree and pages
dumps are plans/contract.py's, read through ``_dumps()`` when a twin runs:
contract imports this module, so neither may need the other while loading,
and either can be imported first.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from .contract_base import (
    BM25_QUERIES,
    DEC2,
    DIM,
    KDE_BW,
    KDE_HOT_T,
    KDE_RES,
    PIP_POLYS,
    _pip_parity_sql,
    _sql_bm25,
    _sql_kde_heatmap,
    ld,
    scratch_dir,
)


def _dumps():
    """The registry module, which owns the tree and pages dumps."""
    from . import contract

    return contract


# --------------------------------------------------------------------------
# cell-set compaction / polyfill / spatial autocorrelation / host PageRank
# --------------------------------------------------------------------------

COMPACT_RES = 4


def q_cell_compact(spark, sf_dir):
    """H3-style ``compact``: minimal multi-resolution cover of the populated
    embedding cells at res 4 (pure-integer level chain, operators/compact)."""
    from ..operators.compact import compact_cells

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    n = 1 << COMPACT_RES
    clamp = lambda c: F.greatest(F.least(F.floor(c * float(n)).cast("long"), F.lit(n - 1)), F.lit(0))  # noqa: E731
    cells = e.select(clamp(x).alias("ix"), clamp(y).alias("iy"))
    return compact_cells(cells, COMPACT_RES)


def _sql_cell_compact() -> str:
    from ..operators.compact import compact_cells_sql

    vx, vy = G.xy_sql("embedding", DIM)
    n = 1 << COMPACT_RES
    ix = f"greatest(least(floor(({vx}) * {float(n)!r})::BIGINT, {n - 1}), 0)"
    iy = f"greatest(least(floor(({vy}) * {float(n)!r})::BIGINT, {n - 1}), 0)"
    return compact_cells_sql(
        f"SELECT {ix} AS ix, {iy} AS iy FROM embeddings", COMPACT_RES
    )


COVER_RES = 6


def q_poly_cover(spark, sf_dir):
    """H3-style ``polyfill``: cells at res 6 whose center lies in each test
    polygon — the polygon→cells inverse of pip_join, bbox-bounded fan-out
    with the exact ray-cast verify (operators/pipjoin.polygon_cover)."""
    from ..operators.pipjoin import polygon_cover

    polys = spark.createDataFrame(PIP_POLYS, "cell_id long, ring array<array<double>>")
    return polygon_cover(polys, COVER_RES)


def _sql_poly_cover() -> str:
    import math

    from ..kernels.grid import COORD_BITS, RES_SHIFT

    n = 1 << COVER_RES
    s = 1.0 / n
    cover = f"(({COVER_RES}::BIGINT << {RES_SHIFT}) | (ix << {COORD_BITS}) | iy)"
    branches = []
    for pid, ring in PIP_POLYS:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        clampi = lambda v: max(min(int(math.floor(v * float(n))), n - 1), 0)  # noqa: E731
        bx0, bx1 = clampi(min(xs)), clampi(max(xs))
        by0, by1 = clampi(min(ys)), clampi(max(ys))
        branches.append(
            f"""SELECT {pid} AS cell_id, {cover} AS cover_id, ix, iy FROM (
  SELECT ix, iy,
         ((CAST(ix AS DOUBLE) + 0.5) * {s!r}) AS x,
         ((CAST(iy AS DOUBLE) + 0.5) * {s!r}) AS y
  FROM (SELECT unnest(generate_series({bx0}::BIGINT, {bx1}::BIGINT)) AS ix) a,
       (SELECT unnest(generate_series({by0}::BIGINT, {by1}::BIGINT)) AS iy) b
) WHERE {_pip_parity_sql(ring)}"""
        )
    return "\nUNION ALL\n".join(branches)


def q_kde_moran(spark, sf_dir):
    """Local Moran's I (LISA hotspot statistic) over the KDE raster — the
    spatial-autocorrelation tail of the heatmap stack (heatmap → moran)."""
    from ..operators.heatmap import kde_heatmap, local_moran

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return local_moran(raster, res=KDE_RES)


def _sql_kde_moran() -> str:
    from ..operators.heatmap import local_moran_sql

    return local_moran_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_kde_geary(spark, sf_dir):
    """Local Geary's C (LISA edge/heterogeneity statistic) over the KDE
    raster — the squared-difference complement of kde_moran: Moran flags
    clusters, Geary flags edges and local outliers."""
    from ..operators.heatmap import kde_heatmap, local_geary

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return local_geary(raster, res=KDE_RES)


def _sql_kde_geary() -> str:
    from ..operators.heatmap import local_geary_sql

    return local_geary_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_semivariogram(spark, sf_dir):
    """Empirical semivariogram of the KDE raster at integer squared-cell
    lags (the variography input kriging fits a model to). Bounded disc
    fan-out + one groupBy on ≤max_lag² lag keys."""
    from ..operators.heatmap import kde_heatmap, semivariogram

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return semivariogram(raster, res=KDE_RES, max_lag_cells=4)


def _sql_semivariogram() -> str:
    from ..operators.heatmap import semivariogram_sql

    return semivariogram_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES, max_lag_cells=4
    )


def q_variogram_fit(spark, sf_dir):
    """Linear variogram-model WLS fit (nugget, slope, r2) to the empirical
    semivariogram — the variography step kriging consumes; one global
    DECIMAL-exact aggregate + closed-form 2-param solve."""
    from ..operators.heatmap import kde_heatmap, semivariogram, variogram_fit

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return variogram_fit(semivariogram(raster, res=KDE_RES, max_lag_cells=4))


def _sql_variogram_fit() -> str:
    from ..operators.heatmap import variogram_fit_sql

    return variogram_fit_sql(_sql_semivariogram())


def q_kriging(spark, sf_dir):
    """Simple-kriging interpolation of the KDE raster onto its unsampled
    halo cells (exponential covariance, 3 nearest samples, Cramer 3×3
    closed form) with the kriging-variance band — the geostatistical end
    of the variography stack (semivariogram → variogram_fit → kriging)."""
    from ..operators.heatmap import kde_heatmap, kriging_surface

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return kriging_surface(raster, res=KDE_RES)


def _sql_kriging() -> str:
    from ..operators.heatmap import kriging_surface_sql

    return kriging_surface_sql(_sql_kde_heatmap(), res=KDE_RES)


def q_region_boundary(spark, sf_dir):
    """Raster→vector outline extraction: the exact marching-squares edge set
    of the KDE hotspot region (density ≥ threshold) as unit-cell segments —
    one 4-neighbor fan-out + one anti-join on the metadata-scale raster."""
    from ..operators.heatmap import kde_heatmap
    from ..operators.vectorize import region_boundary

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return region_boundary(raster, res=KDE_RES, threshold=KDE_HOT_T)


def _sql_region_boundary() -> str:
    from ..operators.vectorize import region_boundary_sql

    return region_boundary_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})",
        res=KDE_RES,
        threshold=KDE_HOT_T,
    )


def q_distance_transform(spark, sf_dir):
    """Isochrone field: 8-connected BFS distance (in cells) from every
    populated KDE cell to the nearest hotspot cell, walking populated cells
    only — multi-source BFS with one bounded fan-out + anti-join per round
    (driver sees one count per round); DuckDB twin is a depth-capped
    recursive CTE."""
    from ..operators.heatmap import kde_heatmap
    from ..operators.vectorize import distance_transform

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW)
    return distance_transform(raster, res=KDE_RES, threshold=KDE_HOT_T, max_dist=8)


def _sql_distance_transform() -> str:
    from ..operators.vectorize import distance_transform_sql

    return distance_transform_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})",
        res=KDE_RES,
        threshold=KDE_HOT_T,
        max_dist=8,
    )


def q_hilbert_layout(spark, sf_dir):
    """Hilbert-curve file-layout assignment — the better-locality sibling of
    zorder_layout (connected curve segments per bucket, no Z-seam jumps),
    as a linearly-unrolled rotate-and-accumulate column chain."""
    from ..operators.layout import hilbert_layout

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return hilbert_layout(e.select("vec_id", x.alias("x"), y.alias("y")), res=6, bucket_bits=4)


def _sql_hilbert_layout() -> str:
    from ..operators.layout import hilbert_layout_sql

    x, y = G.xy_sql("embedding", DIM)
    return hilbert_layout_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=6, bucket_bits=4
    )


def q_triangle_count(spark, sf_dir):
    """Per-host triangle participation over the real extracted link graph —
    degree-ordered wedge join (out-degree bounded by orienting each edge
    low→high in the (deg, host) order), closing-edge equi-join, one
    explode+groupBy to credit corners."""
    from ..operators.curation import extract_links
    from ..operators.graph import triangle_count

    return triangle_count(extract_links(_dumps()._pages(spark)))


def _sql_triangle_count() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import triangle_count_sql

    return triangle_count_sql(extract_links_sql(_dumps()._PAGES_SQL))


def q_bigram_lm(spark, sf_dir):
    """Per-doc perplexity under the corpus's own add-α bigram LM (the
    CCNet-style quality gate one order above the unigram lm_scores) —
    zip-with-tail bigrams, two map-side-combined count aggregates, a
    bigram-keyed model join, DECIMAL-exact per-doc sums, sqlgen ln/exp."""
    from ..operators.textops import bigram_lm_scores

    return bigram_lm_scores(ld(spark, sf_dir, "documents"), alpha=0.5)


def _sql_bigram_lm() -> str:
    from ..operators.textops import bigram_lm_scores_sql

    return bigram_lm_scores_sql(alpha=0.5)


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel(spark, sf_dir):
    """Strictly-ordered 3-step funnel (view → click → purchase within 7
    days of the first view) over the events stream — one scan, one
    per-user min-per-step aggregate, no window over raw events."""
    from ..operators.funnel import funnel

    return funnel(ld(spark, sf_dir, "events"), FUNNEL_STEPS, window_s=7 * 24 * 3600)


def _sql_funnel() -> str:
    from ..operators.funnel import funnel_sql

    return funnel_sql(
        "SELECT user_id, event_type, ts FROM events", FUNNEL_STEPS, window_s=7 * 24 * 3600
    )


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix (first-seen epoch-week × week offset)
    over events — per-user first-week aggregate, one join back, one
    groupBy on metadata-cardinality keys."""
    from ..operators.funnel import cohort_retention

    return cohort_retention(ld(spark, sf_dir, "events"))


def _sql_cohort_retention() -> str:
    from ..operators.funnel import cohort_retention_sql

    return cohort_retention_sql("SELECT user_id, ts FROM events")


def q_kcore(spark, sf_dir):
    """2-core of the real extracted link graph after fixed peel rounds
    (degree-<k vertices deleted repeatedly) — the dense-skeleton filter;
    each round is one degree groupBy + two semi-joins, unrolled identically
    as chained CTEs in the DuckDB twin."""
    from ..operators.curation import extract_links
    from ..operators.graph import kcore

    return kcore(extract_links(_dumps()._pages(spark)), k=2, rounds=8)


def _sql_kcore() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import kcore_sql

    return kcore_sql(extract_links_sql(_dumps()._PAGES_SQL), k=2, rounds=8)


def q_skyline(spark, sf_dir):
    """Exact Pareto frontier (minimize x and y) of the embedding plane with
    grid pruning: cell-level dominance collapses candidates to the nonempty-
    cell staircase (metadata-scale anti-join) before the exact pairwise
    check — corpus-size-independent candidate set, exact result."""
    from ..operators.spatial import skyline

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return skyline(e.select("vec_id", x.alias("x"), y.alias("y")), res=6)


def _sql_skyline() -> str:
    from ..operators.spatial import skyline_sql

    x, y = G.xy_sql("embedding", DIM)
    return skyline_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=6)


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of the event stream (per-user
    time-ordered lag pairs → per-source-state normalized probabilities) —
    user-partitioned window, pair-space groupBy."""
    from ..operators.funnel import event_transitions

    return event_transitions(ld(spark, sf_dir, "events"))


def _sql_event_transitions() -> str:
    from ..operators.funnel import event_transitions_sql

    return event_transitions_sql("SELECT user_id, event_id, ts, event_type FROM events")


RIPLEY_RADII = [0.01, 0.02, 0.05, 0.1]


def q_ripley_k(spark, sf_dir):
    """Ripley's K/L point-pattern statistic (operators/stats.py:ripley_k)
    over the projected embedding plane at four radii — clustered vs
    dispersed at each scale. One grid-pruned DWithin join at max radius."""
    from ..operators.stats import ripley_k

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    return ripley_k(pts, RIPLEY_RADII)


def _sql_ripley_k() -> str:
    from ..operators.stats import ripley_k_sql

    x, y = G.xy_sql("embedding", DIM)
    return ripley_k_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", RIPLEY_RADII
    )


def q_kmeans_xy(spark, sf_dir):
    """Deterministic distributed k-means (operators/kmeans.py): 8-centroid
    Lloyd codebook over the embedding plane, 3 iterations. Assignment is a
    pure map over a broadcast centroid array (zero point shuffles); the
    oracle unrolls the identical dataflow into CTEs."""
    from ..operators.kmeans import kmeans_xy

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    return kmeans_xy(pts, k=8, iters=3)


def _sql_kmeans_xy() -> str:
    from ..operators.kmeans import kmeans_xy_sql

    x, y = G.xy_sql("embedding", DIM)
    return kmeans_xy_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", k=8, iters=3
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/curation.py:decontaminate):
    every 83rd document donates a 240-char excerpt as a synthetic benchmark
    prompt; the sweep flags every training doc sharing a word 13-gram with
    that set (the donors by construction, plus any boilerplate twins)."""
    from ..operators.curation import decontaminate

    docs = ld(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 83 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.substring("text", 20, 240).alias("qtext"),
    )
    return decontaminate(docs.select("doc_id", "text"), bench, n=13)


def _sql_decontaminate() -> str:
    from ..operators.curation import decontaminate_sql

    return decontaminate_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id AS bench_id, substr(text, 20, 240) AS qtext "
        "FROM documents WHERE doc_id % 83 = 0",
        n=13,
    )


def q_emerging_hotspots(spark, sf_dir):
    """Space-time cube + Mann-Kendall emerging-hotspot classification
    (operators/spacetime.py): events placed at their user's embedding-plane
    location (broadcast location join), day periods, res-3 cells. The
    monitoring surface for a continuously-crawled corpus — which regions of
    embedding space are heating up crawl over crawl."""
    from ..operators.spacetime import emerging_hotspots

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x"), y.alias("y"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select("x", "y", "ts")
    return emerging_hotspots(pts, res=3, period_s=86400)


def _sql_emerging_hotspots() -> str:
    from ..operators.spacetime import emerging_hotspots_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT l.x, l.y, e.ts FROM events e
JOIN (SELECT vec_id, {x} AS x, {y} AS y FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return emerging_hotspots_sql(ev_xy, res=3, period_s=86400)


def q_trajectories(spark, sf_dir):
    """Per-user trajectory statistics (operators/spacetime.py:
    trajectory_stats): each event sits at its user's embedding-plane
    location plus a deterministic per-event jitter, ordered by (ts,
    event_id) — path length / net displacement / straightness per user."""
    from ..operators.spacetime import trajectory_stats

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    return trajectory_stats(pts)


def _sql_trajectories() -> str:
    from ..operators.spacetime import trajectory_stats_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return trajectory_stats_sql(ev_xy)


def q_traj_resample(spark, sf_dir):
    """Arc-length trajectory resampling (operators/spacetime.py:
    traj_resample): every user's event walk reduced to 8 points at equal
    fractions of its cumulative path length — the normalization step before
    cross-trajectory similarity and the decimation a tile renderer applies
    to long paths. DECIMAL-exact running arc length keeps the interpolation
    engine-identical."""
    from ..operators.spacetime import traj_resample

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    return traj_resample(pts, n_samples=8)


def _sql_traj_resample() -> str:
    from ..operators.spacetime import traj_resample_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return traj_resample_sql(ev_xy, n_samples=8)


TRAJ_USERS = 6  # trajectories compared pairwise (metadata-scale demo set)
TRAJ_MAXLEN = 12  # per-trajectory point cap (sizes the twin's DP lists)


def _traj_frames(spark, sf_dir):
    """(trajs, pairs) for the trajectory-similarity queries: the 6 smallest
    user_ids' event walks in the embedding plane (same xy derivation as
    q_trajectories), capped at 12 points each, all 15 (a < b) pairs. At
    scale the pairs side comes from blocking (shared cells / bbox overlap),
    never all-pairs — the cap and the tiny id set keep the demo exact."""
    from pyspark.sql import Window

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    ids = ev.select("user_id").distinct().orderBy("user_id").limit(TRAJ_USERS)
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = (
        ev.join(F.broadcast(ids), "user_id")
        .join(F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"])
        .select(
            "user_id",
            "event_id",
            "ts",
            F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
            F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trajs = (
        pts.select(
            F.col("user_id").alias("traj_id"),
            (F.row_number().over(w) - 1).alias("seq"),
            "x",
            "y",
        )
        .where(F.col("seq") < TRAJ_MAXLEN)
    )
    a = ids.select(F.col("user_id").alias("a_id"))
    b = ids.select(F.col("user_id").alias("b_id"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            (F.col("a_id") * 100000 + F.col("b_id")).alias("pair_id"), "a_id", "b_id"
        )
    )
    return trajs, pairs


def q_traj_hausdorff(spark, sf_dir):
    """Symmetric Hausdorff distance between user trajectories
    (operators/trajsim.py): within-pair point join → per-point min →
    per-pair max, both directions, sqrt once at the end."""
    from ..operators.trajsim import traj_hausdorff

    trajs, pairs = _traj_frames(spark, sf_dir)
    return traj_hausdorff(trajs, pairs)


def q_traj_frechet(spark, sf_dir):
    """Discrete Fréchet + DTW between user trajectories
    (operators/trajsim.py): O(n·m) DP per pair in ONE grouped Arrow pass;
    the oracle runs the identical recurrence as a recursive CTE over
    anti-diagonals — bit-identical float64 max/min/add both sides."""
    from ..operators.trajsim import traj_dp_distances

    trajs, pairs = _traj_frames(spark, sf_dir)
    return traj_dp_distances(trajs, pairs)


def _sql_traj_frames() -> tuple[str, str]:
    x, y = G.xy_sql("embedding", DIM)
    ids = f"SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT {TRAJ_USERS}"
    trajs = f"""
SELECT traj_id, seq, x, y FROM (
  SELECT user_id AS traj_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS seq,
         x, y
  FROM (
    SELECT e.user_id, e.event_id, e.ts,
           greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
           greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
    FROM events e
    JOIN ({ids}) u ON e.user_id = u.user_id
    JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
      ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id))
WHERE seq < {TRAJ_MAXLEN}
"""
    pairs = f"""
SELECT a.user_id * 100000 + b.user_id AS pair_id, a.user_id AS a_id, b.user_id AS b_id
FROM ({ids}) a JOIN ({ids}) b ON a.user_id < b.user_id
"""
    return trajs, pairs


def _sql_traj_hausdorff() -> str:
    from ..operators.trajsim import traj_hausdorff_sql

    trajs, pairs = _sql_traj_frames()
    return traj_hausdorff_sql(trajs, pairs)


def _sql_traj_frechet() -> str:
    from ..operators.trajsim import traj_dp_distances_sql

    trajs, pairs = _sql_traj_frames()
    return traj_dp_distances_sql(trajs, pairs, maxlen=TRAJ_MAXLEN)


def q_stay_points(spark, sf_dir):
    """Dwell detection (stay points): maximal same-cell consecutive-event
    runs per user with ≥2 events — gaps-and-islands over user-partitioned
    windows, shuffling only on user_id (operators/spacetime.py:stay_points)."""
    from ..operators.spacetime import stay_points

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    return stay_points(pts, res=4, min_events=2)


def _sql_stay_points() -> str:
    from ..operators.spacetime import stay_points_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return stay_points_sql(ev_xy, res=4, min_events=2)


def q_seg_intersect(spark, sf_dir):
    """Trajectory-crossing detection: ST_Intersects(line, line) as a
    cell-bucketed candidate join + exact double-straddle orientation test
    (operators/spatial.py: segment_intersections). Segments are the
    consecutive steps of the per-user embedding-plane trajectories."""
    from pyspark.sql import Window

    from ..operators.spatial import segment_intersections

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    segs = (
        pts.select(
            F.col("event_id").alias("seg_id"),
            F.col("user_id").alias("traj_id"),
            F.lag("x").over(w).alias("ax"),
            F.lag("y").over(w).alias("ay"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
        )
        .where(F.col("ax").isNotNull())
    )
    return segment_intersections(segs, res=4)


def _sql_seg_intersect() -> str:
    from ..operators.spatial import segment_intersections_sql

    x, y = G.xy_sql("embedding", DIM)
    segs = f"""
SELECT seg_id, traj_id, ax, ay, bx, by FROM (
  SELECT event_id AS seg_id, user_id AS traj_id,
         lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ax,
         lag(y) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ay,
         x AS bx, y AS by
  FROM (
    SELECT e.user_id, e.event_id, e.ts,
           greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
           greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
    FROM events e
    JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
      ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id))
WHERE ax IS NOT NULL
"""
    return segment_intersections_sql(segs, res=4)


def q_tile_hulls(spark, sf_dir):
    """Per-tile convex hulls of the embedding plane (vector silhouette per
    coarse tile): exact-dedup → Akl–Toussaint prune (struct-ordered extreme
    aggregate) → monotone-chain hull per tile via applyInPandas. The DuckDB
    twin recomputes the same edge set with the independent O(m³)
    all-points-right pair test."""
    from ..operators.hull import tile_hulls

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return tile_hulls(e.select("vec_id", x.alias("x"), y.alias("y")), res=2)


def _sql_tile_hulls() -> str:
    from ..operators.hull import tile_hulls_sql

    x, y = G.xy_sql("embedding", DIM)
    return tile_hulls_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=2)


def q_crawl_diff(spark, sf_dir):
    """Per-host diff of two crawl snapshots (added/removed/changed/
    unchanged page counts): snapshot B is a deterministic dataflow derived
    from the pages dump (hash-bucketed remove/edit/add), the diff is ONE
    full-outer join on the unique url key + one host rollup."""
    from ..operators.webops import crawl_diff, snapshot_b

    pages = _dumps()._pages(spark)
    return crawl_diff(pages.select("url", "text"), snapshot_b(pages))


def _sql_crawl_diff() -> str:
    from ..operators.webops import crawl_diff_sql, snapshot_b_sql

    return crawl_diff_sql(
        f"SELECT url, text FROM ({_dumps()._PAGES_SQL})", snapshot_b_sql(_dumps()._PAGES_SQL)
    )


def q_robots_filter(spark, sf_dir):
    """robots.txt crawl gate with longest-prefix-wins semantics over a
    deterministic per-host rule set — broadcast rule join + one
    struct-ordered max per url (operators/webops.py)."""
    from ..operators.webops import robots_filter, robots_rules

    pages = _dumps()._pages(spark)
    return robots_filter(pages, robots_rules(pages))


def _sql_robots_filter() -> str:
    from ..operators.webops import robots_filter_sql, robots_rules_sql

    return robots_filter_sql(_dumps()._PAGES_SQL, robots_rules_sql(_dumps()._PAGES_SQL))


def q_tile_labels(spark, sf_dir):
    """Per-tile characteristic terms (semantic tile captions) by corpus-rate
    lift with a twin-ln score — one (tile, term) postings shuffle + a
    per-tile top-k window (operators/ranking.py: tile_labels)."""
    from ..operators.ranking import tile_labels

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select(F.col("vec_id").alias("doc_id"), x.alias("x"), y.alias("y"))
    return tile_labels(docs, pts, res=2, top_k=5)


def _sql_tile_labels() -> str:
    from ..operators.ranking import tile_labels_sql

    x, y = G.xy_sql("embedding", DIM)
    return tile_labels_sql(
        "SELECT doc_id, text FROM documents",
        f"SELECT vec_id AS doc_id, {x} AS x, {y} AS y FROM embeddings",
        res=2,
        top_k=5,
    )


def q_tile_exemplars(spark, sf_dir):
    """One deterministic exemplar doc per tile (min portable-hash pick —
    reproducible pseudo-random selection, no RNG state) + tile population."""
    from ..operators.ranking import tile_exemplars

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select(F.col("vec_id").alias("doc_id"), x.alias("x"), y.alias("y"))
    return tile_exemplars(docs, pts, res=3)


def _sql_tile_exemplars() -> str:
    from ..operators.ranking import tile_exemplars_sql

    x, y = G.xy_sql("embedding", DIM)
    return tile_exemplars_sql(
        f"SELECT vec_id AS doc_id, {x} AS x, {y} AS y FROM embeddings", res=3
    )


def q_tile_addresses(spark, sf_dir):
    """All tile-addressing schemes from one pass (Morton key, Bing quadkey
    zoom path, slippy-map z/x/y, base-32 geohash token) — unrolled JVM
    bit/string arithmetic, byte-identical twins."""
    from ..operators.layout import tile_addresses

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return tile_addresses(
        e.select("vec_id", x.alias("x"), y.alias("y")), res=6, geohash_chars=4
    )


def _sql_tile_addresses() -> str:
    from ..operators.layout import tile_addresses_sql

    x, y = G.xy_sql("embedding", DIM)
    return tile_addresses_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=6, geohash_chars=4
    )


def q_crawl_frontier(spark, sf_dir):
    """Politeness-aware crawl-frontier schedule: per-host fetch slots
    (host-partitioned window) merged into a global priority order by
    (slot, link-PageRank authority) — the ordering a crawler executes."""
    from ..operators.curation import extract_links
    from ..operators.graph import link_pagerank
    from ..operators.webops import crawl_frontier

    pages = _dumps()._pages(spark)
    ranks = link_pagerank(extract_links(pages), iterations=5).select("host", "rank")
    return crawl_frontier(pages, ranks)


def _sql_crawl_frontier() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import link_pagerank_sql
    from ..operators.webops import crawl_frontier_sql

    ranks = f"SELECT host, rank FROM ({link_pagerank_sql(extract_links_sql(_dumps()._PAGES_SQL), iterations=5)})"
    return crawl_frontier_sql(_dumps()._PAGES_SQL, ranks)


def q_kde_terrain(spark, sf_dir):
    """Terrain derivatives over the KDE density raster
    (operators/heatmap.py:terrain_surface): Horn-stencil gradient, slope
    tangent, and analytic NW hillshade — the raster-analysis tail of the
    heatmap stack (heatmap → focal → moran/getis → terrain)."""
    from ..operators.heatmap import kde_heatmap, terrain_surface

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )
    return terrain_surface(raster, res=KDE_RES)


def _sql_kde_terrain() -> str:
    from ..operators.heatmap import terrain_surface_sql

    return terrain_surface_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def _kde_raster(spark, sf_dir):
    from ..operators.heatmap import kde_heatmap

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )


def q_flow_dir(spark, sf_dir):
    """D8 flow direction over the KDE density raster
    (operators/hydrology.py): per populated cell the steepest
    distance-weighted descent among its populated neighbors (Jenson &
    Domingue stencil), pits = local minima. Bounded 8× fan-out + one
    metadata-scale self-join; the hydrology head of the raster stack."""
    from ..operators.hydrology import flow_direction

    return flow_direction(_kde_raster(spark, sf_dir), res=KDE_RES)


def _sql_flow_dir() -> str:
    from ..operators.hydrology import flow_direction_sql

    return flow_direction_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_strahler(spark, sf_dir):
    """Strahler stream order over the KDE drainage network
    (operators/hydrology.py: strahler_order): stream cells = accumulation ≥
    threshold; synchronized Jacobi rounds on cell metadata, the twin
    unrolls the same round count — hash-identical even pre-convergence."""
    from ..operators.hydrology import strahler_order

    return strahler_order(_kde_raster(spark, sf_dir), res=KDE_RES, acc_threshold=5)


def _sql_strahler() -> str:
    from ..operators.hydrology import strahler_order_sql

    return strahler_order_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES, acc_threshold=5
    )


def q_flow_acc(spark, sf_dir):
    """Flow accumulation (drainage network) over the KDE raster: upstream
    cell count per cell via a bounded-round walk over the single-out-degree
    flow edges — acyclic by strict descent, so the DuckDB twin's UNION ALL
    recursion is exact."""
    from ..operators.hydrology import flow_accumulation

    return flow_accumulation(_kde_raster(spark, sf_dir), res=KDE_RES)


def _sql_flow_acc() -> str:
    from ..operators.hydrology import flow_accumulation_sql

    return flow_accumulation_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_flow_basins(spark, sf_dir):
    """Watershed delineation: every raster cell labeled with the pit its
    D8 flow path terminates in (pits label themselves)."""
    from ..operators.hydrology import flow_basins

    return flow_basins(_kde_raster(spark, sf_dir), res=KDE_RES)


def _sql_flow_basins() -> str:
    from ..operators.hydrology import flow_basins_sql

    return flow_basins_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_kde_contours(spark, sf_dir):
    """Marching-squares isolines of the KDE density raster at the hotspot
    level (operators/contours.py): raster → vector line segments, the
    web-map contour layer. One bounded 4× fan-out + one groupBy(window);
    the 16-case lookup and endpoint interpolation are pure codegen."""
    from ..operators.contours import contour_segments
    from ..operators.heatmap import kde_heatmap

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )
    return contour_segments(raster, res=KDE_RES, level=KDE_HOT_T)


def _sql_kde_contours() -> str:
    from ..operators.contours import contour_segments_sql

    return contour_segments_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})",
        res=KDE_RES,
        level=KDE_HOT_T,
    )


def q_map_match(spark, sf_dir):
    """Map matching (operators/mapmatch.py): snap every embedding-plane
    point to the nearest segment of a deterministic 7-segment polyline
    (waypoints = the 8 lowest vec_ids in vec_id order). Broadcast network,
    clamped orthogonal projection, ONE per-point argmin window."""
    from pyspark.sql import Window

    from ..operators.mapmatch import snap_to_segments

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select("vec_id", x.alias("x"), y.alias("y"))
    way = pts.where(F.col("vec_id") < 8)
    w = Window.orderBy("vec_id")
    segs = way.select(
        F.col("vec_id").alias("seg_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.lead("x").over(w).alias("bx"),
        F.lead("y").over(w).alias("by"),
    ).where(F.col("bx").isNotNull())
    return snap_to_segments(pts, segs)


def _sql_map_match() -> str:
    from ..operators.mapmatch import snap_to_segments_sql

    vx, vy = G.xy_sql("embedding", DIM)
    pts = f"SELECT vec_id, {vx} AS x, {vy} AS y FROM embeddings"
    segs = f"""
SELECT seg_id, ax, ay, bx, by FROM (
  SELECT vec_id AS seg_id, x AS ax, y AS ay,
         lead(x) OVER (ORDER BY vec_id) AS bx,
         lead(y) OVER (ORDER BY vec_id) AS by
  FROM ({pts}) WHERE vec_id < 8)
WHERE bx IS NOT NULL"""
    return snap_to_segments_sql(pts, segs)


def q_areal_transfer(spark, sf_dir):
    """Areal-weighted interpolation (operators/areal.py): the KDE raster
    re-aggregated onto a coarser grid shifted by half a source cell — the
    non-nested-zoning rollup the quadkey pyramid cannot express. Mass is
    conserved exactly; all overlap geometry is integer-lattice."""
    from ..operators.areal import areal_transfer
    from ..operators.heatmap import kde_heatmap

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )
    return areal_transfer(raster, res_src=KDE_RES, res_tgt=KDE_RES - 1)


def _sql_areal_transfer() -> str:
    from ..operators.areal import areal_transfer_sql

    return areal_transfer_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})",
        res_src=KDE_RES,
        res_tgt=KDE_RES - 1,
    )


FUZZY_TERMS = ["spqrk", "joiin", "windw", "mergee", "sor", "scanz", "merge", "qxyzz"]


def q_fuzzy_terms(spark, sf_dir):
    """SymSpell-style spell correction (operators/fuzzy.py): query terms
    matched to the corpus vocabulary at edit distance ≤ 1 via a
    deletion-neighborhood equi-join (never all-pairs levenshtein), with
    hot-key bucket caps and exact levenshtein verify."""
    from ..operators.fuzzy import fuzzy_vocab_match

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    return fuzzy_vocab_match(docs, FUZZY_TERMS)


def _sql_fuzzy_terms() -> str:
    from ..operators.fuzzy import fuzzy_vocab_match_sql

    return fuzzy_vocab_match_sql("SELECT doc_id, text FROM documents", FUZZY_TERMS)


def q_viewshed(spark, sf_dir):
    """Viewshed (operators/viewshed.py): line-of-sight over the KDE terrain
    from its argmax cell — per-ray running-max windows keyed by primitive
    lattice direction (unrolled-Euclid gcd in pure codegen)."""
    from ..operators.heatmap import kde_heatmap
    from ..operators.viewshed import viewshed

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )
    vp = (
        raster.orderBy(F.col("density").desc(), "ix", "iy")
        .limit(1)
        .select(F.col("ix").alias("vix"), F.col("iy").alias("viy"))
    )
    return viewshed(raster, vp)


def _sql_viewshed() -> str:
    from ..operators.viewshed import viewshed_sql

    raster = f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})"
    vp = (
        f"SELECT ix AS vix, iy AS viy FROM ({raster}) "
        "ORDER BY density DESC, ix, iy LIMIT 1"
    )
    return viewshed_sql(raster, vp)


def q_host_pagerank(spark, sf_dir):
    """PageRank over the hash-derived host link graph (5 unrolled power
    iterations; operators/graph) — the crawl-authority prior of a web
    curation pipeline, run on the metadata-scale host table."""
    from ..operators.graph import host_pagerank

    return host_pagerank(_dumps()._pages(spark), iterations=5)


def _sql_host_pagerank() -> str:
    from ..operators.graph import host_pagerank_sql
    from ..operators.webops import URL_RE

    return host_pagerank_sql(f"SELECT url FROM {_dumps()._PAGES_PQ}", URL_RE, iterations=5)


def q_tree_rouge(spark, sf_dir):
    """Tree self-evaluation: ROUGE-L of each level-1 summary against its
    members' concatenated leaf text (sorted by child id) — does the rollup
    summary actually cover its cluster. Bounded to the 12 lowest-id parents
    (TakeOrdered); the oracle re-derives the LCS in a recursive CTE over the
    identical tree-dump bits."""
    from ..operators.evalmetrics import rouge_l_pairs

    tree = _dumps()._tree(spark, sf_dir)
    parents = (
        tree.where(F.col("level") == 1)
        .select(F.col("node_id").alias("pair_id"), F.col("text").alias("prediction"), "children")
        .orderBy("pair_id")
        .limit(12)
    )
    kids = parents.select("pair_id", F.explode("children").alias("cid"))
    leaf = tree.where(F.col("level") == 0).select(
        F.col("node_id").alias("cid"), F.col("text").alias("ctext")
    )
    gold = (
        kids.join(leaf, "cid")
        .groupBy("pair_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cid", "ctext"))), lambda s: s["ctext"]
                ),
            ).alias("gold")
        )
    )
    return rouge_l_pairs(parents.select("pair_id", "prediction").join(gold, "pair_id"))


def _sql_tree_rouge() -> str:
    from ..operators.evalmetrics import rouge_l_sql

    pairs = f"""
WITH parents AS (
  SELECT node_id AS pair_id, text AS prediction, children
  FROM {_dumps()._NODES_PQ} WHERE level = 1 ORDER BY node_id LIMIT 12),
kids AS (SELECT pair_id, unnest(children) AS cid FROM parents),
leaf AS (SELECT node_id AS cid, text AS ctext FROM {_dumps()._NODES_PQ} WHERE level = 0),
gold AS (
  SELECT pair_id, string_agg(ctext, ' ' ORDER BY cid) AS gold
  FROM kids JOIN leaf USING (cid) GROUP BY pair_id)
SELECT p.pair_id, p.prediction, g.gold FROM parents p JOIN gold g USING (pair_id)
"""
    return rouge_l_sql(pairs)


def q_stream_hex_density(spark, sf_dir):
    """Hex tile rollup as a REAL Structured Streaming job (stream-static
    broadcast placement join, watermarked day windows, availableNow drain);
    the memory-sink result must hash-equal the batch oracle."""
    from ..streaming.events_stream import stream_hex_density

    return stream_hex_density(spark, sf_dir)


def _sql_stream_hex_density() -> str:
    from ..functions.hexgen import hex_qr_sql

    x, y = G.xy_sql("embedding", DIM)
    hq, hr = hex_qr_sql("x", "y", 4)
    return f"""
WITH locs AS (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings),
pts AS (
  SELECT e.ts,
         greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
         greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
  FROM events e
  JOIN locs l ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id),
assigned AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, {hq} AS hex_q, {hr} AS hex_r
  FROM pts)
SELECT day, hex_q, hex_r, count(*)::BIGINT AS n
FROM assigned GROUP BY day, hex_q, hex_r
"""


def q_stream_tile_stats(spark, sf_dir):
    """Tile-stats materialized view maintained by a REAL multi-epoch
    Structured Streaming job (foreachBatch → epoch-gated exact merge,
    sources/tilestats.py); the final read must hash-equal a one-shot batch
    recompute over all events — batch-chop independence is the invariant."""
    from ..streaming.events_stream import stream_tile_stats

    return stream_tile_stats(spark, sf_dir)


def _sql_stream_tile_stats() -> str:
    x, y = G.xy_sql("embedding", DIM)
    cell = G.cell_sql("x", "y", 6)
    return f"""
WITH locs AS (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings),
pts AS (
  SELECT greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
         greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
  FROM events e
  JOIN locs l ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id)
SELECT {cell} AS cell_id, count(*)::BIGINT AS n,
       round(CAST(sum(CAST(x AS DECIMAL(28,15))) AS DOUBLE) / count(*), 6) AS centroid_x,
       round(CAST(sum(CAST(y AS DECIMAL(28,15))) AS DOUBLE) / count(*), 6) AS centroid_y
FROM pts GROUP BY 1
"""


def q_covisit_topk(spark, sf_dir):
    """Item-item co-visitation cosine (collaborative-filtering candidate
    generator, operators/covisit.py): binarized user→item interactions from
    the events' JSON props, power-user cap BEFORE the pair join (the skew
    guard), symmetric top-5 neighbors. sqrt/div are single IEEE ops —
    hash-exact twin."""
    from ..operators.covisit import covisit_topk

    return covisit_topk(ld(spark, sf_dir, "events"), top_k=5)


def _sql_covisit_topk() -> str:
    from ..operators.covisit import covisit_topk_sql

    return covisit_topk_sql(top_k=5)


def q_host_anomaly(spark, sf_dir):
    """Crawl-health z-scores: latest-week page count vs the host's own prior
    weekly mean/σ (decimal-exact sums, pinned-order variance) — the recrawl
    alert for redesigns, outages, and crawler traps."""
    from ..operators.webops import host_anomaly

    return host_anomaly(_dumps()._pages(spark), min_prior_weeks=3)


def _sql_host_anomaly() -> str:
    from ..operators.webops import host_anomaly_sql

    return host_anomaly_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}", min_prior_weeks=3)


def q_host_recency(spark, sf_dir):
    """Recency-weighted crawl mass per host: alpha^(weeks since newest
    capture) summed per host — alpha^d composed from the TWIN exp/ln
    transcendentals, decimal-exact sums; the recrawl-scheduler freshness
    prior."""
    from ..operators.webops import host_recency

    return host_recency(_dumps()._pages(spark))


def _sql_host_recency() -> str:
    from ..operators.webops import host_recency_sql

    return host_recency_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}")


def q_term_bursts(spark, sf_dir):
    """Burst detection: terms whose latest-crawl-week count most exceeds
    their own prior weekly average (lift) — one (term, week) groupBy on the
    point set, term-cardinality everything after, TakeOrdered top-k."""
    from ..operators.webops import term_bursts

    return term_bursts(_dumps()._pages(spark))


def _sql_term_bursts() -> str:
    from ..operators.webops import term_bursts_sql

    return term_bursts_sql(f"SELECT warc_ts, text FROM {_dumps()._PAGES_PQ}")


def q_anchor_text(spark, sf_dir):
    """Anchor-text profile: top-3 terms the web uses to link TO each host —
    codegen regexp extraction + one (host, term) groupBy + host-partitioned
    top-k window; the highest-precision ranking feature a crawl yields."""
    from ..operators.curation import anchor_text_profile

    return anchor_text_profile(_dumps()._pages(spark))


def _sql_anchor_text() -> str:
    from ..operators.curation import anchor_text_profile_sql

    return anchor_text_profile_sql(_dumps()._PAGES_SQL)


def q_host_distances(spark, sf_dir):
    """Bellman-Ford shortest paths over the real extracted host link graph
    (6 relaxation rounds, edge cost 1/n_links) — crawl-depth/authority
    distance from the seed host; frontier is host-metadata, one join + one
    min-groupBy per round."""
    from ..operators.curation import extract_links
    from ..operators.graph import host_distances

    return host_distances(extract_links(_dumps()._pages(spark)))


def _sql_host_distances() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import host_distances_sql

    return host_distances_sql(extract_links_sql(_dumps()._PAGES_SQL))


GEO_LAT0, GEO_LON0 = 0.7, -2.1  # reference point for the geodesic query


def q_geo_chord(spark, sf_dir):
    """Geodesic distance on the sphere: project xy to (lon, lat), compute the
    haversine CHORD distance 2R·√a from a fixed reference point using the
    twin sin/cos (functions/trig.py — bit-identical argument-reduced Taylor
    across Spark/DuckDB/Python, no libm). Chord = through-sphere metric,
    strictly monotone in great-circle distance, so it ranks identically."""
    from ..functions import trig as TR

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select(
        "vec_id",
        ((x - F.lit(0.5)) * F.lit(2.0 * 3.141592653589793)).alias("lon"),
        ((y - F.lit(0.5)) * F.lit(3.141592653589793)).alias("lat"),
    )
    return pts.select(
        "vec_id",
        "lon",
        "lat",
        TR.chord_dist_col(
            F.lit(GEO_LAT0), F.lit(GEO_LON0), F.col("lat"), F.col("lon")
        ).alias("chord"),
    )


def _sql_geo_chord() -> str:
    from ..functions import trig as TR
    from ..functions.hexgen import flit

    x, y = G.xy_sql("embedding", DIM)
    return f"""
WITH pts AS (
  SELECT vec_id,
         (({x}) - 0.5) * {flit(2.0 * 3.141592653589793)} AS lon,
         (({y}) - 0.5) * {flit(3.141592653589793)} AS lat
  FROM embeddings)
SELECT vec_id, lon, lat,
       {TR.chord_dist_sql(flit(GEO_LAT0), flit(GEO_LON0), "lat", "lon")} AS chord
FROM pts
"""


def q_s2_cells(spark, sf_dir):
    """S2-style spherical cells: (lon, lat) → twin-trig unit vector →
    cube-face chart → linear st → Hilbert position on the face; parent is
    the 2-bit Hilbert prefix (S2's defining hierarchy property). Zero
    shuffles — one scan-fused Project (operators/s2.py)."""
    from ..operators.s2 import s2_cells

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select(
        "vec_id",
        ((x - F.lit(0.5)) * F.lit(2.0 * 3.141592653589793)).alias("lon"),
        ((y - F.lit(0.5)) * F.lit(3.141592653589793)).alias("lat"),
    )
    return s2_cells(pts, res=8)


def _sql_s2_cells() -> str:
    from ..operators.s2 import s2_cells_sql

    from ..functions.hexgen import flit

    x, y = G.xy_sql("embedding", DIM)
    pts = f"""
SELECT vec_id,
       (({x}) - 0.5) * {flit(2.0 * 3.141592653589793)} AS lon,
       (({y}) - 0.5) * {flit(3.141592653589793)} AS lat
FROM embeddings"""
    return s2_cells_sql(pts, res=8)


def q_geo_knn(spark, sf_dir):
    """Geodesic kNN: top-20 vectors nearest the reference point by haversine
    chord distance (monotone in great-circle distance, so the ranking is the
    geodesic ranking), deterministic tiebreak on vec_id."""
    base = q_geo_chord(spark, sf_dir)
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k +
    # driver merge — scale-safe); the rank window then runs on 20 rows only
    top = base.select("vec_id", "chord").orderBy("chord", "vec_id").limit(20)
    w = Window.orderBy("chord", "vec_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


def _sql_geo_knn() -> str:
    return f"""
WITH base AS ({_sql_geo_chord()})
SELECT vec_id, chord, CAST(row_number() OVER (ORDER BY chord, vec_id) AS BIGINT) AS rnk
FROM base QUALIFY rnk <= 20
"""


def q_s2_drill(spark, sf_dir):
    """S2 drill-down read: every point inside one res-3 ancestor cell,
    selected as a CONTIGUOUS Hilbert-key range (hkey >> 10 = prefix) — the
    sortable-id range scan that makes S2 ids layout keys, not just labels.
    The prefix is taken from vec_id 0's cell so the range is never empty."""
    base = q_s2_cells(spark, sf_dir)  # res 8
    anchor = base.where(F.col("vec_id") == 0).select(
        "face", F.shiftrightunsigned(F.col("hkey"), 10).alias("pfx")
    )
    return (
        base.join(F.broadcast(anchor), "face")
        .where(F.shiftrightunsigned(F.col("hkey"), 10) == F.col("pfx"))
        .select("vec_id", "face", "hkey", "s2_id")
    )


def _sql_s2_drill() -> str:
    return f"""
WITH base AS ({_sql_s2_cells()}),
anchor AS (SELECT face, (hkey >> 10) AS pfx FROM base WHERE vec_id = 0)
SELECT b.vec_id, b.face, b.hkey, b.s2_id
FROM base b JOIN anchor a ON b.face = a.face AND (b.hkey >> 10) = a.pfx
"""


RAD2DEG = 57.29577951308232


def q_geo_bearing(spark, sf_dir):
    """Initial great-circle bearing from the reference point to every vector
    — atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ) with the
    TWIN atan2 (two-step reduction + 21-term series; functions/trig.py) and
    twin sin/cos; degrees normalized to [0, 360)."""
    from ..functions import trig as TR

    base = q_geo_chord(spark, sf_dir).select("vec_id", "lon", "lat")
    s1, c1 = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)  # plan-time constants
    dlon = F.col("lon") - F.lit(GEO_LON0)
    staged = base.select(
        "vec_id",
        (TR.sin_col(dlon) * TR.cos_col(F.col("lat"))).alias("yc"),
        (
            F.lit(c1) * TR.sin_col(F.col("lat"))
            - F.lit(s1) * (TR.cos_col(F.col("lat")) * TR.cos_col(dlon))
        ).alias("xc"),
    )
    # narrow barrier (vec_id, yc, xc): atan's reduction references its
    # argument many times; unmaterialized, each reference would duplicate
    # the full trig chains into the fused projection (same CollapseProject
    # hazard as s2)
    staged = staged.localCheckpoint(eager=False)
    # staged twin atan2 (trig.append_atan2): the quadrant CASE references
    # the atan result 3x, which at one-expression size blows the JVM's
    # 64 KB/method bytecode limit (round-4 codegen-fallback family)
    at2 = TR.append_atan2(staged, "yc", "xc", "__a2__", keep=["vec_id"])
    deg2 = at2.select("vec_id", (F.col("__a2__") * F.lit(RAD2DEG)).alias("__deg__"))
    return deg2.select(
        "vec_id",
        F.when(F.col("__deg__") < 0, F.col("__deg__") + F.lit(360.0))
        .otherwise(F.col("__deg__"))
        .alias("bearing_deg"),
    )


def _sql_geo_bearing() -> str:
    from ..functions import trig as TR
    from ..functions.hexgen import flit

    x, y = G.xy_sql("embedding", DIM)
    s1, c1 = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)
    stage, result = TR.atan2_sql("yc", "xc")
    deg = f"({result} * {flit(RAD2DEG)})"
    return f"""
WITH pts AS (
  SELECT vec_id,
         (({x}) - 0.5) * {flit(2.0 * 3.141592653589793)} AS lon,
         (({y}) - 0.5) * {flit(3.141592653589793)} AS lat
  FROM embeddings),
d AS (SELECT vec_id, lat, (lon - {flit(GEO_LON0)}) AS dlon FROM pts),
comp AS (
  SELECT vec_id,
         ({TR.sin_sql("dlon")} * {TR.cos_sql("lat")}) AS yc,
         ({flit(c1)} * {TR.sin_sql("lat")}
          - {flit(s1)} * ({TR.cos_sql("lat")} * {TR.cos_sql("dlon")})) AS xc
  FROM d),
staged AS (SELECT vec_id, yc, xc, {stage} AS atr FROM comp)
SELECT vec_id,
       CASE WHEN {deg} < 0 THEN {deg} + 360.0 ELSE {deg} END AS bearing_deg
FROM staged
"""


def q_geo_arc(spark, sf_dir):
    """True great-circle arc distance (radians on the unit sphere):
    c = 2·asin(chord/2), asin composed as atan2(z, √((1−z)(1+z))) from the
    twin atan2 — upgrading the chord metric to the actual geodesic length."""
    from ..functions import trig as TR

    base = q_geo_chord(spark, sf_dir).select("vec_id", "chord")
    z = F.col("chord") * F.lit(0.5)
    staged = base.select("vec_id", "chord", z.alias("z")).localCheckpoint(eager=False)
    # staged twin asin (trig.append_asin) — the one-expression asin tree
    # broke the 64 KB/method limit in round 4 (codegen-fallback family)
    at = TR.append_asin(staged, "z", "__asn__", keep=["vec_id", "chord"])
    return at.select(
        "vec_id",
        "chord",
        (F.lit(2.0) * F.col("__asn__")).alias("arc"),
    )


def _sql_geo_arc() -> str:
    from ..functions import trig as TR

    xs, rs, res = TR.asin_sql("z")
    return f"""
WITH base AS ({_sql_geo_chord()}),
zt AS (SELECT vec_id, chord, (chord * 0.5) AS z FROM base),
a AS (SELECT vec_id, chord, z, {xs} AS asx FROM zt),
b AS (SELECT vec_id, chord, z, asx, {rs} AS atr FROM a)
SELECT vec_id, chord, (2.0 * {res}) AS arc FROM b
"""


def q_geo_destination(spark, sf_dir):
    """Direct geodesic problem — destination point from (reference, initial
    bearing, arc distance), the inverse of geo_bearing/geo_arc:
    φ₂ = asin(sin φ₁ cos δ + cos φ₁ sin δ cos θ), λ₂ = λ₁ + atan2(sin θ
    sin δ cos φ₁, cos δ − sin φ₁ sin φ₂). Bearing and arc are taken from
    the inverse solutions, so the reconstructed destination must equal the
    original point — the output's err column carries the round-trip
    residual (≈1e-15; the identity is the correctness proof). Every
    transcendental is the twin kernel (functions/trig.py), every stage a
    narrow localCheckpoint barrier to keep CollapseProject from duplicating
    the trig chains."""
    from ..functions import trig as TR

    s1, c1 = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)
    # materialize (lat, lon, chord) BEFORE any trig: sin/cos inline their
    # argument ~20×, and lat/lon are themselves wide expressions over the
    # 64-dim embedding — unmaterialized, the first stage's tree multiplies
    # those out (measured 280 s analysis+codegen for 500 rows; 3 s with the
    # barrier)
    base = q_geo_chord(spark, sf_dir).localCheckpoint(eager=False)
    dlon = F.col("lon") - F.lit(GEO_LON0)
    c0 = base.select(
        "vec_id",
        "lat",
        "lon",
        (TR.sin_col(dlon) * TR.cos_col(F.col("lat"))).alias("yc"),
        (
            F.lit(c1) * TR.sin_col(F.col("lat"))
            - F.lit(s1) * (TR.cos_col(F.col("lat")) * TR.cos_col(dlon))
        ).alias("xc"),
        (F.col("chord") * F.lit(0.5)).alias("z"),
    ).localCheckpoint(eager=False)
    # one twin atan per projection, always over STAGED ratio columns: two
    # atan chains in one projection blow whole-stage codegen past janino's
    # 64 KB method limit (measured: 65 s interpreted fallback for the fused
    # stage vs ~1 s split). _q2 applies atan2's quadrant CASE to a staged
    # atan result — identical IEEE ops to TR.atan2_col, just pre-staged.
    def _q2(base, y, x):
        return (
            F.when(x > F.lit(0.0), base)
            .when((x < F.lit(0.0)) & (y >= F.lit(0.0)), base + F.lit(TR.PI))
            .when(x < F.lit(0.0), base - F.lit(TR.PI))
            .when(y > F.lit(0.0), F.lit(TR.PI_2))
            .when(y < F.lit(0.0), F.lit(-TR.PI_2))
            .otherwise(F.lit(0.0))
        )

    keep = ["vec_id", "lat", "lon"]
    ca = c0.select(
        *keep, "yc", "xc", "z",
        (F.col("yc") / F.col("xc")).alias("atr_t"),
        F.sqrt(
            F.greatest((F.lit(1.0) - F.col("z")) * (F.lit(1.0) + F.col("z")), F.lit(0.0))
        ).alias("asx"),
    ).localCheckpoint(eager=False)
    # every atan is the TWO-STAGE staged form (trig.append_atan): one
    # ~1,900-node atan tree referenced 3x by _q2's CASE is what broke the
    # 64 KB/method bytecode limit in round 4 (codegen-fallback family)
    ca_at = TR.append_atan(
        ca, F.col("atr_t"), "__at_t__", keep=[*keep, "yc", "xc", "z", "asx"]
    )
    cb = ca_at.select(
        *keep, "z", "asx",
        _q2(F.col("__at_t__"), F.col("yc"), F.col("xc")).alias("theta"),
        (F.col("z") / F.col("asx")).alias("atr_d"),
    ).localCheckpoint(eager=False)
    cb_at = TR.append_atan(
        cb, F.col("atr_d"), "__at_d__", keep=[*keep, "theta", "z", "asx"]
    )
    cc = cb_at.select(
        *keep, "theta",
        (F.lit(2.0) * _q2(F.col("__at_d__"), F.col("z"), F.col("asx"))).alias(
            "delta"
        ),
    ).localCheckpoint(eager=False)
    cd_ = cc.select(
        *keep,
        TR.sin_col(F.col("theta")).alias("st"),
        TR.cos_col(F.col("theta")).alias("ct"),
        TR.sin_col(F.col("delta")).alias("sd"),
        TR.cos_col(F.col("delta")).alias("cd"),
    ).localCheckpoint(eager=False)
    ce = cd_.select(
        *keep, "st", "sd", "cd",
        (F.lit(s1) * F.col("cd") + F.lit(c1) * (F.col("sd") * F.col("ct"))).alias("a2"),
    ).select(
        *keep, "st", "sd", "cd", "a2",
        F.sqrt(
            F.greatest(
                (F.lit(1.0) - F.col("a2")) * (F.lit(1.0) + F.col("a2")), F.lit(0.0)
            )
        ).alias("asx_p"),
    ).localCheckpoint(eager=False)
    ce_r = ce.select(
        *keep, "st", "sd", "cd", "a2", "asx_p",
        (F.col("a2") / F.col("asx_p")).alias("atr_p"),
    )
    ce_at = TR.append_atan(
        ce_r, F.col("atr_p"), "__at_p__",
        keep=[*keep, "st", "sd", "cd", "a2", "asx_p"],
    )
    cf = ce_at.select(
        *keep, "st", "sd", "cd",
        _q2(F.col("__at_p__"), F.col("a2"), F.col("asx_p")).alias("phi2"),
    ).localCheckpoint(eager=False)
    c5 = cf.select(
        *keep, "phi2",
        ((F.col("st") * F.col("sd")) * F.lit(c1)).alias("y2"),
        (F.col("cd") - F.lit(s1) * TR.sin_col(F.col("phi2"))).alias("x2"),
    ).select(
        *keep, "phi2", "y2", "x2", (F.col("y2") / F.col("x2")).alias("atr_l")
    ).localCheckpoint(eager=False)
    c5_at = TR.append_atan(
        c5, F.col("atr_l"), "__at_l__", keep=[*keep, "phi2", "y2", "x2"]
    )
    lon2 = F.lit(GEO_LON0) + _q2(F.col("__at_l__"), F.col("y2"), F.col("x2"))
    lon2w = (
        F.when(lon2 <= F.lit(-_PI), lon2 + F.lit(_TWO_PI))
        .when(lon2 > F.lit(_PI), lon2 - F.lit(_TWO_PI))
        .otherwise(lon2)
    )
    staged = c5_at.select("vec_id", "lat", "lon", "phi2", lon2w.alias("lon2w"))
    return staged.select(
        "vec_id",
        F.round("phi2", 9).alias("lat2"),
        F.round("lon2w", 9).alias("lon2"),
        F.round(
            F.abs(F.col("phi2") - F.col("lat")) + F.abs(F.col("lon2w") - F.col("lon")),
            9,
        ).alias("err"),
    )


def _sql_geo_destination() -> str:
    from ..functions import trig as TR
    from ..functions.hexgen import flit

    s1, c1 = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)
    t_stage, t_res = TR.atan2_sql("yc", "xc", ratio_alias="atr_t")
    d_xs, d_rs, d_res = TR.asin_sql("z", x_alias="asx_d", ratio_alias="atr_d")
    p_xs, p_rs, p_res = TR.asin_sql("a2", x_alias="asx_p", ratio_alias="atr_p")
    l_stage, l_res = TR.atan2_sql("y2", "x2", ratio_alias="atr_l")
    lon2 = f"({flit(GEO_LON0)} + {l_res})"
    return f"""
WITH base AS ({_sql_geo_chord()}),
c0 AS (
  SELECT vec_id, lat, lon,
         ({TR.sin_sql("dlon")} * {TR.cos_sql("lat")}) AS yc,
         ({flit(c1)} * {TR.sin_sql("lat")}
          - {flit(s1)} * ({TR.cos_sql("lat")} * {TR.cos_sql("dlon")})) AS xc,
         (chord * 0.5) AS z
  FROM (SELECT vec_id, lat, lon, chord, (lon - {flit(GEO_LON0)}) AS dlon FROM base)),
s_t AS (SELECT *, {t_stage} AS atr_t FROM c0),
s_d AS (SELECT *, {d_xs} AS asx_d FROM s_t),
s_d2 AS (SELECT *, {d_rs} AS atr_d FROM s_d),
c1_ AS (
  SELECT vec_id, lat, lon,
         {t_res} AS theta,
         (2.0 * {d_res}) AS delta
  FROM s_d2),
c2 AS (
  SELECT vec_id, lat, lon,
         {TR.sin_sql("theta")} AS st, {TR.cos_sql("theta")} AS ct,
         {TR.sin_sql("delta")} AS sd, {TR.cos_sql("delta")} AS cd
  FROM c1_),
c3 AS (
  SELECT vec_id, lat, lon, st, sd, cd,
         ({flit(s1)} * cd + {flit(c1)} * (sd * ct)) AS a2
  FROM c2),
s_p AS (SELECT *, {p_xs} AS asx_p FROM c3),
s_p2 AS (SELECT *, {p_rs} AS atr_p FROM s_p),
c4 AS (
  SELECT vec_id, lat, lon, st, sd, cd,
         {p_res} AS phi2
  FROM s_p2),
c5 AS (
  SELECT vec_id, lat, lon, phi2,
         ((st * sd) * {flit(c1)}) AS y2,
         (cd - {flit(s1)} * {TR.sin_sql("phi2")}) AS x2
  FROM c4),
s_l AS (SELECT *, {l_stage} AS atr_l FROM c5),
fin AS (
  SELECT vec_id, lat, lon, phi2,
         CASE WHEN {lon2} <= {flit(-_PI)}
              THEN {lon2} + {flit(_TWO_PI)}
              WHEN {lon2} > {flit(_PI)}
              THEN {lon2} - {flit(_TWO_PI)}
              ELSE {lon2} END AS lon2w
  FROM s_l)
SELECT vec_id, round(phi2, 9) AS lat2, round(lon2w, 9) AS lon2,
       round(abs(phi2 - lat) + abs(lon2w - lon), 9) AS err
FROM fin
"""


_WAYPOINT_FRACS = (0.25, 0.5, 0.75)


def q_geo_waypoints(spark, sf_dir):
    """Great-circle waypoints by spherical linear interpolation: the points
    at 25/50/75% of the arc from the reference to every vector —
    P(f) = (sin((1−f)δ)·A + sin(fδ)·B)/sin δ on unit 3-vectors, δ the arc
    angle from geo_arc's asin composition. A's components are plan-time
    twin-_py constants; B's come from twin sin/cos; the two slerp weights,
    the 3-D mix, and the final asin/atan2 unprojection are all staged over
    simple columns (the geo_destination codegen discipline). Coincident
    point (δ = 0) degrades to linear weights — the same point, exactly, in
    both engines."""
    from ..functions import trig as TR

    sA_lat, cA_lat = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)
    sA_lon, cA_lon = TR.sin_py(GEO_LON0), TR.cos_py(GEO_LON0)
    ax, ay, az = cA_lat * cA_lon, cA_lat * sA_lon, sA_lat

    def _q2(base, yv, xv):
        return (
            F.when(xv > F.lit(0.0), base)
            .when((xv < F.lit(0.0)) & (yv >= F.lit(0.0)), base + F.lit(TR.PI))
            .when(xv < F.lit(0.0), base - F.lit(TR.PI))
            .when(yv > F.lit(0.0), F.lit(TR.PI_2))
            .when(yv < F.lit(0.0), F.lit(-TR.PI_2))
            .otherwise(F.lit(0.0))
        )

    base = q_geo_chord(spark, sf_dir).localCheckpoint(eager=False)
    c0 = base.select(
        "vec_id",
        "lat",
        "lon",
        (F.col("chord") * F.lit(0.5)).alias("z"),
    ).select(
        "vec_id", "lat", "lon", "z",
        F.sqrt(
            F.greatest((F.lit(1.0) - F.col("z")) * (F.lit(1.0) + F.col("z")), F.lit(0.0))
        ).alias("asx"),
    ).localCheckpoint(eager=False)
    # staged twin atans throughout (trig.append_atan — round-4
    # codegen-fallback fix: one-expression atan trees broke the 64 KB/method
    # bytecode limit)
    c0_r = c0.select(
        "vec_id", "lat", "lon", "z", "asx", (F.col("z") / F.col("asx")).alias("atr_d")
    )
    c0_at = TR.append_atan(
        c0_r, F.col("atr_d"), "__at_d__", keep=["vec_id", "lat", "lon", "z", "asx"]
    )
    c1 = c0_at.select(
        "vec_id", "lat", "lon",
        (F.lit(2.0) * _q2(F.col("__at_d__"), F.col("z"), F.col("asx"))).alias("delta"),
    ).localCheckpoint(eager=False)
    c2 = c1.select(
        "vec_id", "delta",
        TR.sin_col(F.col("lat")).alias("slat"),
        TR.cos_col(F.col("lat")).alias("clat"),
        TR.sin_col(F.col("lon")).alias("slon"),
        TR.cos_col(F.col("lon")).alias("clon"),
        TR.sin_col(F.col("delta")).alias("sind"),
    ).localCheckpoint(eager=False)
    c3 = c2.select(
        "vec_id", "delta", "sind",
        (F.col("clat") * F.col("clon")).alias("bx"),
        (F.col("clat") * F.col("slon")).alias("by"),
        F.col("slat").alias("bz"),
        F.explode(
            F.array(*[F.lit(float(f)) for f in _WAYPOINT_FRACS])
        ).alias("f"),
    ).select(
        "vec_id", "sind", "bx", "by", "bz", "f",
        ((F.lit(1.0) - F.col("f")) * F.col("delta")).alias("u1"),
        (F.col("f") * F.col("delta")).alias("u2"),
    ).localCheckpoint(eager=False)
    c4 = c3.select(
        "vec_id", "sind", "bx", "by", "bz", "f",
        TR.sin_col(F.col("u1")).alias("s1"),
        TR.sin_col(F.col("u2")).alias("s2"),
    ).localCheckpoint(eager=False)
    wa = F.when(F.col("sind") > 0, F.col("s1") / F.col("sind")).otherwise(
        F.lit(1.0) - F.col("f")
    )
    wb = F.when(F.col("sind") > 0, F.col("s2") / F.col("sind")).otherwise(F.col("f"))
    c5 = c4.select(
        "vec_id", "f", wa.alias("wa"), wb.alias("wb"), "bx", "by", "bz"
    ).select(
        "vec_id", "f",
        (F.col("wa") * F.lit(ax) + F.col("wb") * F.col("bx")).alias("px"),
        (F.col("wa") * F.lit(ay) + F.col("wb") * F.col("by")).alias("py"),
        (F.col("wa") * F.lit(az) + F.col("wb") * F.col("bz")).alias("pz"),
    ).select(
        "vec_id", "f", "px", "py",
        F.greatest(F.least(F.col("pz"), F.lit(1.0)), F.lit(-1.0)).alias("pzc"),
    ).select(
        "vec_id", "f", "px", "py", "pzc",
        F.sqrt(
            F.greatest(
                (F.lit(1.0) - F.col("pzc")) * (F.lit(1.0) + F.col("pzc")), F.lit(0.0)
            )
        ).alias("asx_w"),
    ).localCheckpoint(eager=False)
    c5_r = c5.select(
        "vec_id", "f", "px", "py", "pzc", "asx_w",
        (F.col("pzc") / F.col("asx_w")).alias("atr_w"),
    )
    c5_at = TR.append_atan(
        c5_r, F.col("atr_w"), "__at_w__",
        keep=["vec_id", "f", "px", "py", "pzc", "asx_w"],
    )
    c6 = c5_at.select(
        "vec_id", "f", "px", "py",
        _q2(F.col("__at_w__"), F.col("pzc"), F.col("asx_w")).alias("lat_w"),
        (F.col("py") / F.col("px")).alias("atr_l"),
    ).localCheckpoint(eager=False)
    c6_at = TR.append_atan(
        c6, F.col("atr_l"), "__at_l__", keep=["vec_id", "f", "px", "py", "lat_w"]
    )
    lon_w = _q2(F.col("__at_l__"), F.col("py"), F.col("px"))
    return c6_at.select(
        "vec_id",
        "f",
        F.round("lat_w", 9).alias("lat_w"),
        F.round(lon_w, 9).alias("lon_w"),
    )


def _sql_geo_waypoints() -> str:
    from ..functions import trig as TR
    from ..functions.hexgen import flit

    sA_lat, cA_lat = TR.sin_py(GEO_LAT0), TR.cos_py(GEO_LAT0)
    sA_lon, cA_lon = TR.sin_py(GEO_LON0), TR.cos_py(GEO_LON0)
    ax, ay, az = cA_lat * cA_lon, cA_lat * sA_lon, sA_lat
    d_rs, d_res = TR.atan2_sql("z", "asx", ratio_alias="atr_d")
    w_rs, w_res = TR.atan2_sql("pzc", "asx_w", ratio_alias="atr_w")
    l_rs, l_res = TR.atan2_sql("py", "px", ratio_alias="atr_l")
    fvals = ", ".join(f"({flit(float(f))})" for f in _WAYPOINT_FRACS)
    return f"""
WITH base AS ({_sql_geo_chord()}),
c0 AS (
  SELECT vec_id, lat, lon, z,
         sqrt(greatest((1.0 - z) * (1.0 + z), 0.0)) AS asx
  FROM (SELECT vec_id, lat, lon, (chord * 0.5) AS z FROM base)),
s_d AS (SELECT *, {d_rs} AS atr_d FROM c0),
c1 AS (SELECT vec_id, lat, lon, (2.0 * {d_res}) AS delta FROM s_d),
c2 AS (
  SELECT vec_id, delta,
         {TR.sin_sql("lat")} AS slat, {TR.cos_sql("lat")} AS clat,
         {TR.sin_sql("lon")} AS slon, {TR.cos_sql("lon")} AS clon,
         {TR.sin_sql("delta")} AS sind
  FROM c1),
c3 AS (
  SELECT vec_id, sind, (clat * clon) AS bx, (clat * slon) AS by, slat AS bz,
         f, ((1.0 - f) * delta) AS u1, (f * delta) AS u2
  FROM c2, (VALUES {fvals}) fr(f)),
c4 AS (
  SELECT vec_id, sind, bx, by, bz, f,
         {TR.sin_sql("u1")} AS s1, {TR.sin_sql("u2")} AS s2
  FROM c3),
c5 AS (
  SELECT vec_id, f, px, py,
         greatest(least(pz, 1.0), -1.0) AS pzc
  FROM (
    SELECT vec_id, f,
           (wa * {flit(ax)} + wb * bx) AS px,
           (wa * {flit(ay)} + wb * by) AS py,
           (wa * {flit(az)} + wb * bz) AS pz
    FROM (
      SELECT vec_id, f, bx, by, bz,
             CASE WHEN sind > 0 THEN s1 / sind ELSE 1.0 - f END AS wa,
             CASE WHEN sind > 0 THEN s2 / sind ELSE f END AS wb
      FROM c4))),
c5b AS (
  SELECT vec_id, f, px, py, pzc,
         sqrt(greatest((1.0 - pzc) * (1.0 + pzc), 0.0)) AS asx_w
  FROM c5),
s_w AS (SELECT *, {w_rs} AS atr_w FROM c5b),
c6 AS (
  SELECT vec_id, f, px, py, {w_res} AS lat_w FROM s_w),
s_l AS (SELECT *, {l_rs} AS atr_l FROM c6)
SELECT vec_id, f, round(lat_w, 9) AS lat_w, round({l_res}, 9) AS lon_w
FROM s_l
"""


_RHUMB_EPS = 1e-12
_PI = 3.141592653589793
_TWO_PI = 6.283185307179586
_PI_4 = 0.7853981633974483


def _rhumb_consts():
    """Plan-time loxodrome constants at the reference point, computed with
    the SAME twin kernels the engines run — ψ₁ = ln tan(π/4 + φ₁/2) and
    cos φ₁ — so both plans fold identical doubles."""
    from ..functions import trig as TR
    from ..functions.sqlgen import ln_py

    hlat1 = _PI_4 + GEO_LAT0 * 0.5
    psi1 = ln_py(TR.sin_py(hlat1) / TR.cos_py(hlat1))
    return psi1, TR.cos_py(GEO_LAT0)


def q_rhumb_line(spark, sf_dir):
    """Rhumb-line (loxodrome) navigation from the reference point to every
    vector: constant-bearing course θ = atan2(Δλ, Δψ) with the Mercator
    meridian-parts stretch Δψ = ln tan(π/4+φ₂/2) − ln tan(π/4+φ₁/2), and
    the rhumb distance √(Δφ² + q²Δλ²), q = Δφ/Δψ (cos φ₁ on the E-W
    degenerate course) — the navigation twin of geo_bearing/geo_arc, built
    entirely from the twin sin/cos/ln/atan2 so it hashes identically on
    DuckDB. Zero shuffle: one projection chain over the embeddings scan
    with narrow staging barriers (the same CollapseProject hazard handling
    as geo_bearing)."""
    from ..functions import trig as TR

    psi1, cos1 = _rhumb_consts()
    base = q_geo_chord(spark, sf_dir).select("vec_id", "lon", "lat")
    dlon_raw = F.col("lon") - F.lit(GEO_LON0)
    dlon = (
        F.when(dlon_raw > F.lit(_PI), dlon_raw - F.lit(_TWO_PI))
        .when(dlon_raw < F.lit(-_PI), dlon_raw + F.lit(_TWO_PI))
        .otherwise(dlon_raw)
    )
    s1 = base.select(
        "vec_id",
        "lat",
        dlon.alias("dlon"),
        (F.lit(_PI_4) + F.col("lat") * F.lit(0.5)).alias("hlat"),
    ).localCheckpoint(eager=False)
    s2 = s1.select(
        "vec_id",
        "lat",
        "dlon",
        (TR.sin_col(F.col("hlat")) / TR.cos_col(F.col("hlat"))).alias("tanv"),
    ).localCheckpoint(eager=False)
    s3 = s2.select(
        "vec_id",
        "dlon",
        (F.col("lat") - F.lit(GEO_LAT0)).alias("dphi"),
        (G.ln_col(F.col("tanv")) - F.lit(psi1)).alias("dpsi"),
    ).localCheckpoint(eager=False)
    q = (
        F.when(F.abs(F.col("dpsi")) > F.lit(_RHUMB_EPS), F.col("dphi") / F.col("dpsi"))
        .otherwise(F.lit(cos1))
    )
    s4 = s3.select("vec_id", "dlon", "dphi", "dpsi", q.alias("q")).localCheckpoint(
        eager=False
    )
    # staged twin atan2 (trig.append_atan2 — round-4 codegen-fallback fix)
    s4_at = TR.append_atan2(
        s4, "dlon", "dpsi", "__a2__", keep=["vec_id", "dlon", "dphi", "q"]
    )
    s5 = s4_at.select(
        "vec_id", "dlon", "dphi", "q",
        (F.col("__a2__") * F.lit(RAD2DEG)).alias("__deg__"),
    )
    return s5.select(
        "vec_id",
        F.when(F.col("__deg__") < 0, F.col("__deg__") + F.lit(360.0))
        .otherwise(F.col("__deg__"))
        .alias("bearing_deg"),
        F.sqrt(
            F.col("dphi") * F.col("dphi")
            + (F.col("q") * F.col("q")) * (F.col("dlon") * F.col("dlon"))
        ).alias("rhumb_dist"),
    )


def _sql_rhumb_line() -> str:
    from ..functions import trig as TR
    from ..functions.hexgen import flit
    from ..functions.sqlgen import ln_sql

    psi1, cos1 = _rhumb_consts()
    x, y = G.xy_sql("embedding", DIM)
    stage, result = TR.atan2_sql("dlon", "dpsi")
    deg = f"({result} * {flit(RAD2DEG)})"
    return f"""
WITH pts AS (
  SELECT vec_id,
         (({x}) - 0.5) * {flit(2.0 * _PI)} AS lon,
         (({y}) - 0.5) * {flit(_PI)} AS lat
  FROM embeddings),
d0 AS (SELECT vec_id, lat, (lon - {flit(GEO_LON0)}) AS dlr FROM pts),
d AS (SELECT vec_id, lat,
             CASE WHEN dlr > {flit(_PI)} THEN dlr - {flit(_TWO_PI)}
                  WHEN dlr < {flit(-_PI)} THEN dlr + {flit(_TWO_PI)}
                  ELSE dlr END AS dlon,
             ({flit(_PI_4)} + lat * 0.5) AS hlat
      FROM d0),
t AS (SELECT vec_id, lat, dlon,
             ({TR.sin_sql("hlat")} / {TR.cos_sql("hlat")}) AS tanv
      FROM d),
p AS (SELECT vec_id, dlon,
             (lat - {flit(GEO_LAT0)}) AS dphi,
             ({ln_sql("tanv")} - {flit(psi1)}) AS dpsi
      FROM t),
e AS (SELECT vec_id, dlon, dphi, dpsi,
             CASE WHEN abs(dpsi) > {flit(_RHUMB_EPS)} THEN dphi / dpsi
                  ELSE {flit(cos1)} END AS q
      FROM p),
s AS (SELECT vec_id, dlon, dphi, dpsi, q, {stage} AS atr FROM e)
SELECT vec_id,
       CASE WHEN {deg} < 0 THEN {deg} + 360.0 ELSE {deg} END AS bearing_deg,
       sqrt(dphi * dphi + (q * q) * (dlon * dlon)) AS rhumb_dist
FROM s
"""


def q_hex_viewport(spark, sf_dir):
    """Tile-server viewport read on the hex lattice: occupied hexes whose
    CENTER falls in the query bbox, with their ring-smoothed densities —
    the filter is pushed-down center arithmetic over the occupied-hex
    metadata table (the point set was aggregated once by hex_density)."""
    from ..functions.hexgen import hex_center_cols
    from ..operators.hexgrid import hex_density

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    # metadata barrier (round-4 codegen-fallback fix): without it Catalyst
    # pushes the 4 viewport predicates through the aggregation by
    # substituting the full center-over-hex-over-xy trees into per-POINT
    # filters — 4 multi-thousand-node predicates inlined in the hashAgg loop
    # (> 64 KB/method) AND the wrong plan (the contract is a filter over
    # occupied-hex METADATA, not the point set)
    dens = hex_density(e.select(x.alias("x"), y.alias("y")), res=5).localCheckpoint(
        eager=False
    )
    cx, cy = hex_center_cols(F.col("hex_q"), F.col("hex_r"), 5)
    return (
        dens.withColumn("cx", cx)
        .withColumn("cy", cy)
        .where(
            (F.col("cx") >= 0.25) & (F.col("cx") < 0.5)
            & (F.col("cy") >= 0.25) & (F.col("cy") < 0.5)
        )
        .select("hex_q", "hex_r", "cnt", "ring_cnt", "cx", "cy")
    )


def _sql_hex_viewport() -> str:
    from ..functions.hexgen import hex_center_sql
    from ..operators.hexgrid import hex_density_sql

    x, y = G.xy_sql("embedding", DIM)
    cx, cy = hex_center_sql("hex_q", "hex_r", 5)
    return f"""
WITH dens AS ({hex_density_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=5)}),
centered AS (SELECT hex_q, hex_r, cnt, ring_cnt, {cx} AS cx, {cy} AS cy FROM dens)
SELECT hex_q, hex_r, cnt, ring_cnt, cx, cy FROM centered
WHERE cx >= 0.25 AND cx < 0.5 AND cy >= 0.25 AND cy < 0.5
"""


def q_hex_pyramid(spark, sf_dir):
    """Hexagonal tile pyramid: per-hex counts at res 6 rolled up 3 levels via
    H3 child→parent (center-containment) semantics — point set aggregated
    once, coarser levels cost only occupied-hex metadata."""
    from ..operators.hexgrid import hex_pyramid

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return hex_pyramid(e.select(x.alias("x"), y.alias("y")), res=6, levels=3)


def _sql_hex_pyramid() -> str:
    from ..operators.hexgrid import hex_pyramid_sql

    x, y = G.xy_sql("embedding", DIM)
    return hex_pyramid_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=6, levels=3)


def q_hex_soft(spark, sf_dir):
    """Soft multi-cell assignment on the HEX lattice: home hexagon + any
    neighbor whose eps-expanded boundary polygon still contains the point —
    the GMM prob-threshold recast with a closed-form hexagon PIP (3
    edge-normal projections vs apothem). Constant 7× fan-out, zero joins."""
    from ..operators.hexgrid import hex_soft_assign

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return hex_soft_assign(e.select("vec_id", x.alias("x"), y.alias("y")), res=5, eps=0.2)


def _sql_hex_soft() -> str:
    from ..operators.hexgrid import hex_soft_assign_sql

    x, y = G.xy_sql("embedding", DIM)
    return hex_soft_assign_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=5, eps=0.2
    )


def q_host_communities(spark, sf_dir):
    """Label propagation over the real host link graph (4 synchronous
    rounds, weight-then-label argmax): site families / mirror groups — the
    weighted community signal one step softer than connected components."""
    from ..operators.curation import extract_links
    from ..operators.graph import host_communities

    return host_communities(extract_links(_dumps()._pages(spark)))


def _sql_host_communities() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import host_communities_sql

    return host_communities_sql(extract_links_sql(_dumps()._PAGES_SQL))


def q_path_rollup(spark, sf_dir):
    """URL-space tile pyramid: every page rolls up into its path-prefix
    ancestors (depth ≤ 3), one bounded fan-out + one map-side-combinable
    groupBy — the drill-down surface over site structure."""
    from ..operators.webops import path_rollup

    return path_rollup(_dumps()._pages(spark))


def _sql_path_rollup() -> str:
    from ..operators.webops import path_rollup_sql

    return path_rollup_sql(f"SELECT url, text FROM {_dumps()._PAGES_PQ}")


def q_hex_cells(spark, sf_dir):
    """H3-style HEXAGONAL index (functions/hexgen.py): axial coords via cube
    rounding, packed 64-bit hex ids, and the H3 center-containment parent one
    resolution coarser — the genuine hex lattice beside the quadkey grid
    (reference layer hierarchy: raptor/cluster_tree_builder.py:84-129)."""
    from ..operators.hexgrid import hex_assign

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return hex_assign(e.select("vec_id", x.alias("x"), y.alias("y")), res=6)


def _sql_hex_cells() -> str:
    from ..operators.hexgrid import hex_assign_sql

    x, y = G.xy_sql("embedding", DIM)
    return hex_assign_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", res=6)


def q_hex_density(spark, sf_dir):
    """Hexagonal ring-1 smoothed density: per-hex counts + sum over the 6
    axial neighbors, folded into ONE aggregation (the 7× fan-out explodes
    occupied-hex metadata, never the point set) — the isotropic focal mean
    square grids can't give."""
    from ..operators.hexgrid import hex_density

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return hex_density(e.select(x.alias("x"), y.alias("y")), res=5)


def _sql_hex_density() -> str:
    from ..operators.hexgrid import hex_density_sql

    x, y = G.xy_sql("embedding", DIM)
    return hex_density_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=5)


# ------------------------------------------------------------ lakehouse IO
# Snapshot-versioned table (sources/lakehouse.py): the Spark side routes the
# documents table THROUGH a LakeTable (4 range-sliced append commits) and
# reads it back via manifest-pruned scan / time travel; the oracle reads the
# source parquet directly. Equality proves commits, snapshot isolation, and
# file pruning are all result-neutral — Iceberg's core reader contract.


def _lake_of(spark, sf_dir: str):
    """Build (once per (session, sf_dir)) a 4-commit lake table over the
    documents parquet, sliced by doc_id range so file stats are disjoint."""
    from ..sources.lakehouse import LakeTable

    cache = getattr(_lake_of, "_cache", {})
    key = (id(spark), sf_dir)
    if key in cache:
        return cache[key]
    docs = ld(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t = LakeTable(scratch_dir("laketbl_"), stats_cols=("doc_id",))
    cuts = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]
    snaps = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        snaps.append(t.append(docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))))
    cache[key] = (t, mx, snaps)
    _lake_of._cache = cache
    return cache[key]


def q_lake_scan(spark, sf_dir):
    """Manifest-pruned range scan over the snapshot table: files whose
    doc_id [min,max] misses the range are skipped driver-side (lakehouse
    scan pruning); the surviving files' rows must equal a direct filtered
    read of the source parquet."""
    t, mx, _ = _lake_of(spark, sf_dir)
    lo, hi = mx // 5, mx // 2
    out = t.scan(spark, "doc_id", lo, hi)
    assert t.last_scan_stats["files_scanned"] < t.last_scan_stats["files_total"]
    return out.select("doc_id", "lang", G.token_count_col(F.col("text")).alias("n_tokens"))


def _sql_lake_scan() -> str:
    return f"""
SELECT doc_id, lang, {G.token_count_sql("text")} AS n_tokens
FROM documents
WHERE doc_id >= (SELECT max(doc_id) FROM documents) // 5
  AND doc_id <= (SELECT max(doc_id) FROM documents) // 2
"""


def q_lake_time_travel(spark, sf_dir):
    """Read the table AS OF the second commit: only the first two range
    slices are visible, byte-equal to filtering the source at the cut."""
    t, mx, snaps = _lake_of(spark, sf_dir)
    return t.read(spark, snaps[1]).select("doc_id", "lang")


def _sql_lake_time_travel() -> str:
    return """
SELECT doc_id, lang FROM documents
WHERE doc_id < (SELECT max(doc_id) FROM documents) // 2
"""


def q_lake_changes(spark, sf_dir):
    """Incremental (CDC) read: rows appended between commit 2 and commit 4 =
    the upper two range slices, nothing else."""
    t, mx, snaps = _lake_of(spark, sf_dir)
    return t.changes_between(spark, snaps[1], snaps[3]).select("doc_id", "lang")


def _sql_lake_changes() -> str:
    return """
SELECT doc_id, lang FROM documents
WHERE doc_id >= (SELECT max(doc_id) FROM documents) // 2
"""


def q_lake_zorder_scan(spark, sf_dir):
    """Z-order data skipping: embeddings xy written as a z-clustered lake
    snapshot, then a bbox read that prunes files from Morton-range manifest
    stats; must equal a plain coordinate filter over the source table."""
    from ..sources.lakehouse import LakeTable

    cache = getattr(q_lake_zorder_scan, "_cache", {})
    key = (id(spark), sf_dir)
    if key not in cache:
        e = ld(spark, sf_dir, "embeddings")
        x, y = G.xy_cols(F.col("embedding"), DIM)
        pts = e.select("vec_id", x.alias("x"), y.alias("y"))
        t = LakeTable(scratch_dir("lakez_"), stats_cols=(LakeTable.ZKEY,))
        t.append_zordered(pts, res=8, n_files=16)
        cache[key] = t
        q_lake_zorder_scan._cache = cache
    t = cache[key]
    out = t.scan_bbox(spark, 0.25, 0.4, 0.5, 0.75, res=8)
    assert t.last_scan_stats["files_scanned"] < t.last_scan_stats["files_total"]
    return out.select("vec_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


def _sql_lake_zorder_scan() -> str:
    x, y = G.xy_sql("embedding", DIM)
    return f"""
SELECT vec_id, round(x, 6) AS x, round(y, 6) AS y
FROM (SELECT vec_id, {x} AS x, {y} AS y FROM embeddings)
WHERE x >= 0.25 AND x <= 0.4 AND y >= 0.5 AND y <= 0.75
"""


def q_bm25_incremental(spark, sf_dir):
    """Search over the PERSISTED, incrementally-maintained index: postings
    built from the first half of the corpus, second half folded in as a
    snapshot append (every BM25 statistic is additive over postings). Must
    hash-match the full-corpus oracle — incremental maintenance is exact."""
    from ..sources.searchindex import SearchIndex

    cache = getattr(q_bm25_incremental, "_cache", {})
    key = (id(spark), sf_dir)
    if key not in cache:
        docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        idx = SearchIndex(scratch_dir("bm25idx_"))
        idx.build(docs.where(F.col("doc_id") < mx // 2))
        idx.add_documents(docs.where(F.col("doc_id") >= mx // 2))
        cache[key] = idx
        q_bm25_incremental._cache = cache
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    return cache[key].search(spark, qs, top_k=10, max_df_ratio=(9, 10))


def q_tile_incremental(spark, sf_dir):
    """Per-cell stats from the PERSISTED, incrementally-maintained tile-stats
    table (sources/tilestats.py): partials built from the first half of the
    embedding points, second half folded in through the lake CDC path
    (corpus appends → changes_between → full-outer MERGE of partial
    aggregates), then read rolled up TWO levels coarser than maintained.
    Must hash-match a full recompute over the union corpus — incremental
    view maintenance and the pyramid rollup are both exact."""
    from ..sources.lakehouse import LakeTable
    from ..sources.tilestats import TileStatsTable

    cache = getattr(q_tile_incremental, "_cache", {})
    key = (id(spark), sf_dir)
    if key not in cache:
        e = ld(spark, sf_dir, "embeddings")
        x, y = G.xy_cols(F.col("embedding"), DIM)
        pts = e.select("vec_id", x.alias("x"), y.alias("y"))
        mx = pts.agg(F.max("vec_id")).collect()[0][0]
        corpus = LakeTable(scratch_dir("tilecorpus_"))
        s1 = corpus.append(pts.where(F.col("vec_id") < mx // 2))
        stats = TileStatsTable(scratch_dir("tilestats_"), res=6)
        stats.build(corpus.read(spark, s1))
        s2 = corpus.append(pts.where(F.col("vec_id") >= mx // 2))
        stats.refresh_from(corpus, s1, s2)
        cache[key] = stats
        q_tile_incremental._cache = cache
    return cache[key].read_stats(spark, res=4)


def _sql_tile_incremental() -> str:
    x, y = G.xy_sql("embedding", DIM)
    cell = G.cell_sql("x", "y", 4)
    return f"""
WITH pts AS (SELECT {x} AS x, {y} AS y FROM embeddings)
SELECT {cell} AS cell_id, count(*) AS n,
       round(CAST(sum(CAST(x AS DECIMAL(28,15))) AS DOUBLE) / count(*), 6) AS centroid_x,
       round(CAST(sum(CAST(y AS DECIMAL(28,15))) AS DOUBLE) / count(*), 6) AS centroid_y
FROM pts GROUP BY 1
"""


def q_bm25_delete(spark, sf_dir):
    """Search over the persisted index AFTER tombstone deletes (doc_id % 7
    == 0 retired via negated-tf postings, sources/searchindex.py): must
    hash-match a fresh oracle over the corpus WITHOUT those docs — the
    O(deleted) delete path is exact, no live-postings rewrite."""
    from ..sources.searchindex import SearchIndex

    cache = getattr(q_bm25_delete, "_cache", {})
    key = (id(spark), sf_dir)
    if key not in cache:
        docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
        idx = SearchIndex(scratch_dir("bm25del_"))
        idx.build(docs)
        idx.delete_documents(docs.where(F.col("doc_id") % 7 == 0).select("doc_id"))
        cache[key] = idx
        q_bm25_delete._cache = cache
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    return cache[key].search(spark, qs, top_k=10, max_df_ratio=(9, 10))


def _sql_bm25_delete() -> str:
    return _sql_bm25(top_k=10, ratio=(9, 10)).replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 0)",
    )


def q_od_matrix(spark, sf_dir):
    """Origin–destination flow matrix (operators/spacetime.py: od_matrix):
    each user's event trajectory reduced to first→last trip endpoints via
    struct-ordered min/max (one groupBy, no window), flows aggregated on
    (origin cell, destination cell) at res 4 — top-50 desire lines with
    DECIMAL-exact mean trip length."""
    from ..operators.spacetime import od_matrix

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    return od_matrix(pts, res=4)


def _sql_od_matrix() -> str:
    from ..operators.spacetime import od_matrix_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return od_matrix_sql(ev_xy, res=4)


def q_traj_simplify(spark, sf_dir):
    """Visvalingam–Whyatt one-pass trajectory simplification
    (operators/spacetime.py: traj_simplify): per-point effective triangle
    area along each user's (ts, event_id)-ordered walk; interior points
    below the area threshold are dropped, endpoints survive. One window
    shuffle, pinned-order IEEE arithmetic — hash-exact twin."""
    from ..operators.spacetime import traj_simplify

    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    pts = ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )
    return traj_simplify(pts)


def _sql_traj_simplify() -> str:
    from ..operators.spacetime import traj_simplify_sql

    x, y = G.xy_sql("embedding", DIM)
    ev_xy = f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""
    return traj_simplify_sql(ev_xy)


def q_geohash_encode(spark, sf_dir):
    """Geohash base32 cells (operators/geohash.py): per-point precision-8
    geohash + its precision-4 prefix parent — zero-shuffle codegen encode
    built on the Morton key; prefix truncation is the parent relation."""
    from ..operators.geohash import geohash_cells

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = e.select("vec_id", x.alias("x"), y.alias("y"))
    return geohash_cells(pts).select("vec_id", "gh", "gh_parent")


def _sql_geohash_encode() -> str:
    from ..operators.geohash import geohash_sql

    x, y = G.xy_sql("embedding", DIM)
    gh = geohash_sql("x", "y", 8)
    return f"""
WITH pts AS (SELECT vec_id, {x} AS x, {y} AS y FROM embeddings),
enc AS (SELECT vec_id, {gh} AS gh FROM pts)
SELECT vec_id, gh, substr(gh, 1, 4) AS gh_parent FROM enc
"""


def q_geohash_density(spark, sf_dir):
    """Top-50 precision-4 geohash cells by point count — ONE map-side-
    combined groupBy over the metadata-scale cell-string space."""
    from ..operators.geohash import geohash_density

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return geohash_density(e.select(x.alias("x"), y.alias("y")))


def _sql_geohash_density() -> str:
    from ..operators.geohash import geohash_density_sql

    x, y = G.xy_sql("embedding", DIM)
    return geohash_density_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings")


def q_sdm_rank(spark, sf_dir):
    """Sequential-dependence proximity retrieval (operators/ranking.py:
    sdm_rank): λT·QL(unigrams) + λO·QL(exact-adjacency bigrams) +
    λU·QL(unordered window-8 pairs), all Dirichlet-smoothed and
    sparse-decomposed; positional pair join pre-filtered to the broadcast
    query-bigram vocabulary."""
    from ..operators.ranking import sdm_rank

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    return sdm_rank(docs, qs)


def _sql_sdm_rank() -> str:
    from ..operators.ranking import sdm_rank_sql

    return sdm_rank_sql(BM25_QUERIES)


_EV_XY_SQL: str | None = None


def _ev_xy_sql() -> str:
    """Shared jittered events→plane mapping (same as od_matrix's)."""
    x, y = G.xy_sql("embedding", DIM)
    return f"""
SELECT e.user_id, e.event_id, e.ts,
       greatest(least(l.x0 + ((e.event_id % 199) - 99) / 1000.0, 1.0), 0.0) AS x,
       greatest(least(l.y0 + ((e.event_id % 211) - 105) / 1000.0, 1.0), 0.0) AS y
FROM events e
JOIN (SELECT vec_id, {x} AS x0, {y} AS y0 FROM embeddings) l
  ON e.user_id % (SELECT max(vec_id) + 1 FROM embeddings) = l.vec_id
"""


def _ev_xy(spark, sf_dir):
    """Spark side of :func:`_ev_xy_sql`."""
    ev = ld(spark, sf_dir, "events")
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    locs = em.select("vec_id", x.alias("x0"), y.alias("y0"))
    n_locs = em.agg(F.max("vec_id")).collect()[0][0] + 1  # metadata scalar
    jx = ((F.col("event_id") % 199) - 99) / 1000.0
    jy = ((F.col("event_id") % 211) - 105) / 1000.0
    return ev.join(
        F.broadcast(locs), ev["user_id"] % n_locs == locs["vec_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.greatest(F.least(F.col("x0") + jx, F.lit(1.0)), F.lit(0.0)).alias("x"),
        F.greatest(F.least(F.col("y0") + jy, F.lit(1.0)), F.lit(0.0)).alias("y"),
    )


def q_radiation_model(spark, sf_dir):
    """Parameter-free radiation spatial-interaction model
    (operators/geostats.py: radiation_model): expected flow from intervening
    opportunities s_ij (cumulative cell mass inside the OD radius) — no
    fitted exponent. Trips via struct-min/max groupBy; s_ij from a
    cell-metadata fan-out with a per-origin cumulative window."""
    from ..operators.geostats import radiation_model

    return radiation_model(_ev_xy(spark, sf_dir), res=3)


def _sql_radiation_model() -> str:
    from ..operators.geostats import radiation_model_sql

    return radiation_model_sql(_ev_xy_sql(), res=3)


def q_gwr_local(spark, sf_dir):
    """Geographically weighted regression (operators/geostats.py:
    gwr_local): per-cell Gaussian-weighted OLS of doc quality on plane
    coordinates via 10 DECIMAL sufficient statistics + closed-form Cramer
    solve — locally varying coefficients, KDE-stencil scale shape."""
    from ..operators.geostats import gwr_local
    from ..functions.sqlgen import quality_score_cols

    em = ld(spark, sf_dir, "embeddings")
    d = ld(spark, sf_dir, "documents")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.join(d, em["vec_id"] == d["doc_id"]).select(
        x.alias("x"), y.alias("y"),
        F.round(quality_score_cols(F.col("text")), 6).alias("v"),
    )
    return gwr_local(pts, res=4, bandwidth=0.08)


def _sql_gwr() -> str:
    from ..operators.geostats import gwr_local_sql
    from ..functions.sqlgen import quality_score_sql

    x, y = G.xy_sql("embedding", DIM)
    pts = (
        f"SELECT {x} AS x, {y} AS y, round({quality_score_sql('text')}, 6) AS v "
        "FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id"
    )
    return gwr_local_sql(pts, res=4, bandwidth=0.08)


def q_sd_ellipse(spark, sf_dir):
    """Standard deviational ellipse per tile (operators/geostats.py:
    sd_ellipse): mean center, covariance eigen-rotation via twin atan2,
    major/minor dispersion in closed form from six DECIMAL moments — ONE
    groupBy, no second pass."""
    from ..operators.geostats import sd_ellipse

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return sd_ellipse(em.select(x.alias("x"), y.alias("y")), res=2)


def _sql_sd_ellipse() -> str:
    from ..operators.geostats import sd_ellipse_sql

    x, y = G.xy_sql("embedding", DIM)
    return sd_ellipse_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=2)


def q_knox_test(spark, sf_dir):
    """Knox space-time interaction test (operators/geostats.py: knox_test):
    pairs close in space (3×3 cell-neighborhood join at res 5) × pairs close
    in time (±1 τ-bucket join), symmetric probing with id1<id2 so each pair
    counts once; observed-vs-expected ratio >1 ⇒ space-time clustering."""
    from ..operators.geostats import knox_test

    return knox_test(_ev_xy(spark, sf_dir), s_eps=0.02, t_eps=3600, res=5)


def _sql_knox_test() -> str:
    from ..operators.geostats import knox_test_sql

    return knox_test_sql(_ev_xy_sql(), s_eps=0.02, t_eps=3600, res=5)


def q_knox_capped(spark, sf_dir):
    """Knox test with the 100-TB hot-cell density cap (round-5,
    operators/geostats.py knox_test(max_cell=8)): points in spatial cells or
    τ-buckets holding more than 8 points are excluded from the whole test —
    the MAX_BAND_BUCKET pattern that keeps neighborhood joins from going
    quadratic at pathological density. The cap BINDS at sf0.01 and the
    oracle applies the identical rule, proving the capped statistic exact."""
    from ..operators.geostats import knox_test

    return knox_test(_ev_xy(spark, sf_dir), s_eps=0.02, t_eps=3600, res=5, max_cell=8)


def _sql_knox_capped() -> str:
    from ..operators.geostats import knox_test_sql

    return knox_test_sql(_ev_xy_sql(), s_eps=0.02, t_eps=3600, res=5, max_cell=8)


def q_gravity_model(spark, sf_dir):
    """Gravity spatial-interaction fit over the OD flow matrix
    (operators/geostats.py: gravity_model): expected = K·m_o·m_d/d² with K
    fit so Σexpected = Σflow; residuals + chi-square per desire line. Trips
    via struct-min/max groupBy; everything after runs on cell-pair
    metadata."""
    from ..operators.geostats import gravity_model

    return gravity_model(_ev_xy(spark, sf_dir), res=3)


def _sql_gravity_model() -> str:
    from ..operators.geostats import gravity_model_sql

    return gravity_model_sql(_ev_xy_sql(), res=3)


def q_headtail_breaks(spark, sf_dir):
    """Jiang head/tail-breaks classification of the heavy-tailed document
    length distribution (operators/geostats.py: headtail_breaks): iterative
    mean splits, each level one DECIMAL aggregate + broadcast filter —
    declarative unroll, no collect."""
    from ..operators.geostats import headtail_breaks

    docs = ld(spark, sf_dir, "documents")
    return headtail_breaks(docs, "n_chars", levels=4)


def _sql_headtail_breaks() -> str:
    from ..operators.geostats import headtail_breaks_sql

    return headtail_breaks_sql("SELECT n_chars FROM documents", "n_chars", levels=4)


def q_quadtree_leaves(spark, sf_dir):
    """Adaptive quadtree leaf partition (operators/quadtree.py:
    adaptive_tiles): split tiles holding > max_pts points down to max_res;
    leaves derived from per-level counts alone (one corpus groupBy at
    max_res, then metadata-scale parent rollups + one split-parent join)."""
    from ..operators.quadtree import adaptive_tiles

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return adaptive_tiles(
        em.select(x.alias("x"), y.alias("y")), max_pts=20, min_res=1, max_res=6
    )


def _sql_quadtree_leaves() -> str:
    from ..operators.quadtree import adaptive_tiles_sql

    x, y = G.xy_sql("embedding", DIM)
    return adaptive_tiles_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings",
        max_pts=20,
        min_res=1,
        max_res=6,
    )


def q_quadtree_assign(spark, sf_dir):
    """Point→leaf routing over the adaptive quadtree (operators/quadtree.py:
    quadtree_assign): each point computes its cell at every level (pure bit
    math) and keeps the one in the broadcast leaf set — the lookup an
    adaptively-partitioned spatial join runs before co-locating work."""
    from ..operators.quadtree import adaptive_tiles, quadtree_assign

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    leaves = adaptive_tiles(pts.select("x", "y"), max_pts=20, min_res=1, max_res=6)
    return quadtree_assign(pts, leaves, min_res=1, max_res=6)


def _sql_quadtree_assign() -> str:
    from ..operators.quadtree import adaptive_tiles_sql

    x, y = G.xy_sql("embedding", DIM)
    leaves = adaptive_tiles_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings",
        max_pts=20,
        min_res=1,
        max_res=6,
    )
    expl = "\nUNION ALL\n".join(
        f"SELECT vec_id, {r} AS res, {G.cell_sql(x, y, r)} AS cell FROM embeddings"
        for r in range(1, 7)
    )
    return f"""
WITH leaves AS ({leaves}),
expl AS ({expl})
SELECT e.vec_id, e.res, e.cell
FROM expl e JOIN leaves l ON e.res = l.res AND e.cell = l.cell
"""


def q_kmeans_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per Lloyd cluster
    (operators/kmeans.py: kmeans_silhouette): a = dist to own centroid, b =
    dist to nearest other centroid, s = (b−a)/max(a,b) — one broadcast
    argmin + one k-key groupBy; the all-pairs classic collapsed to the
    distributed-evaluator form."""
    from ..operators.kmeans import kmeans_silhouette

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    return kmeans_silhouette(pts, k=8, iters=3)


def _sql_kmeans_silhouette() -> str:
    from ..operators.kmeans import kmeans_silhouette_sql

    x, y = G.xy_sql("embedding", DIM)
    return kmeans_silhouette_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", k=8, iters=3
    )


def _voronoi_seeds(spark, sf_dir):
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return (
        em.orderBy("vec_id")
        .limit(12)
        .select(F.col("vec_id").alias("sid"), x.alias("sx"), y.alias("sy"))
    )


def _voronoi_seeds_sql() -> str:
    x, y = G.xy_sql("embedding", DIM)
    return (
        f"SELECT vec_id AS sid, {x} AS sx, {y} AS sy FROM embeddings "
        "ORDER BY vec_id LIMIT 12"
    )


def q_voronoi_raster(spark, sf_dir):
    """Rasterized Voronoi partition (operators/voronoi.py: voronoi_raster):
    every res-5 cell — occupied or empty — assigned to its nearest of 12
    seed sites via ONE broadcast argmin over a spark.range cell universe;
    per-seed service-area stats. Zero corpus scan."""
    from ..operators.voronoi import voronoi_raster

    return voronoi_raster(_voronoi_seeds(spark, sf_dir), res=5)


def _sql_voronoi_raster() -> str:
    from ..operators.voronoi import voronoi_raster_sql

    return voronoi_raster_sql(_voronoi_seeds_sql(), res=5)


def q_voronoi_route(spark, sf_dir):
    """Point→Voronoi-owner routing through the precomputed raster
    (operators/voronoi.py: nearest_site_join): broadcast (ix,iy)→sid lookup
    instead of per-point k-way argmin — the map-side join a 100-TB stream
    pays once the owner table is materialized."""
    from ..operators.voronoi import nearest_site_join

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    return nearest_site_join(pts, _voronoi_seeds(spark, sf_dir), res=5)


def _sql_voronoi_route() -> str:
    from ..operators.voronoi import nearest_site_join_sql

    x, y = G.xy_sql("embedding", DIM)
    return nearest_site_join_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings",
        _voronoi_seeds_sql(),
        res=5,
    )


def q_containment(spark, sf_dir):
    """Directional shingle containment |A∩B|/|A| (operators/dedup.py:
    containment_pairs): the quote/mirror/subset-page detector Jaccard and
    MinHash miss on asymmetric sizes; df-capped inverted-index join, exact
    denominators from uncapped per-doc shingle counts."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        ld(spark, sf_dir, "documents").select("doc_id", "text"), threshold=0.3
    )


def _sql_containment() -> str:
    from ..operators.dedup import containment_pairs_sql

    return containment_pairs_sql(threshold=0.3)


def q_colocation(spark, sf_dir):
    """Co-presence (contact-tracing) join (operators/spacetime.py:
    colocation_pairs): distinct users with events in the same res-5 cell
    within 1h; (cell, τ-bucket)-keyed probe with the lower user id on the
    probe side so each event pair counts once — bounded by local density,
    never n²."""
    from ..operators.spacetime import colocation_pairs

    return colocation_pairs(
        _ev_xy(spark, sf_dir), res=5, t_eps=3600, min_contacts=2
    )


def _sql_colocation() -> str:
    from ..operators.spacetime import colocation_pairs_sql

    return colocation_pairs_sql(_ev_xy_sql(), res=5, t_eps=3600, min_contacts=2)


def q_clark_evans(spark, sf_dir):
    """Clark-Evans nearest-neighbor index (operators/stats.py: clark_evans):
    per-point NN distance via the provably-exact grid ring search (k=2 self-
    included), one DECIMAL reduce; the oracle is the brute-force n² twin, so
    the hash match doubles as a recall proof for the ring search."""
    from ..operators.stats import clark_evans

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return clark_evans(em.select("vec_id", x.alias("x"), y.alias("y")), res=5)


def _sql_clark_evans() -> str:
    from ..operators.stats import clark_evans_sql

    x, y = G.xy_sql("embedding", DIM)
    return clark_evans_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings")


def q_trend_surface(spark, sf_dir):
    """First-order OLS trend surface z ≈ a + b·x + c·y
    (operators/geostats.py: trend_surface): closed-form Cramer solve from
    nine DECIMAL moment sums — the whole regression is ONE map-side-
    combinable aggregate, R² from the same moments."""
    from ..operators.geostats import trend_surface

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select(
        x.alias("x"),
        y.alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    return trend_surface(pts)


def _sql_trend_surface() -> str:
    from ..operators.geostats import trend_surface_sql

    x, y = G.xy_sql("embedding", DIM)
    return trend_surface_sql(
        f"SELECT {x} AS x, {y} AS y, CAST(embedding[3] AS DOUBLE) AS z"
        " FROM embeddings"
    )


def _cost_grid(spark, sf_dir):
    """Shared cost raster for the cost-distance family: cost = 1 + point
    count per res-4 cell over the embedding plane (dense 16×16 grid; a
    hostile/crowded cell is expensive to traverse). ONE groupBy over the
    corpus, then metadata scale."""
    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    n = 1 << 4
    counts = (
        em.select(
            F.greatest(
                F.least(F.floor(x * n).cast("long"), F.lit(n - 1)), F.lit(0)
            ).alias("ix"),
            F.greatest(
                F.least(F.floor(y * n).cast("long"), F.lit(n - 1)), F.lit(0)
            ).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cells = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("ix"),
        (F.col("id") % n).cast("long").alias("iy"),
    )
    return cells.join(counts, ["ix", "iy"], "left").select(
        "ix",
        "iy",
        (F.lit(1.0) + F.coalesce(F.col("c"), F.lit(0)).cast("double")).alias("cost"),
    )


def _cost_grid_sql() -> str:
    x, y = G.xy_sql("embedding", DIM)
    n = 16
    return f"""
SELECT c.ix, c.iy, 1.0 + coalesce(k.c, 0) AS cost
FROM (SELECT CAST(i // {n} AS BIGINT) AS ix, CAST(i % {n} AS BIGINT) AS iy
      FROM range(0, {n * n}) r(i)) c
LEFT JOIN (
  SELECT greatest(least(CAST(floor(({x}) * {n}) AS BIGINT), {n - 1}), 0) AS ix,
         greatest(least(CAST(floor(({y}) * {n}) AS BIGINT), {n - 1}), 0) AS iy,
         CAST(count(*) AS DOUBLE) AS c
  FROM embeddings GROUP BY 1, 2) k USING (ix, iy)
"""


def q_cost_distance(spark, sf_dir):
    """Accumulated cost-distance raster from the grid center
    (operators/costdist.py: cost_distance): 24 Bellman-Ford relaxation
    rounds over the implicit 8-neighbor cell graph, cost = 1 + point count
    per res-4 cell; state is one row per reached cell (metadata scale),
    lineage cut every 4 rounds."""
    from ..operators.costdist import cost_distance

    return cost_distance(
        _cost_grid(spark, sf_dir), src_ix=8, src_iy=8, res=4, rounds=24
    )


def _sql_cost_distance() -> str:
    from ..operators.costdist import cost_distance_sql

    return cost_distance_sql(_cost_grid_sql(), src_ix=8, src_iy=8, res=4, rounds=24)


def q_cost_backlink(spark, sf_dir):
    """Cost back-link raster (operators/costdist.py: cost_backlink): per-cell
    predecessor direction code on a least-cost path back to the source —
    ONE predecessor-identity self-join over the shared cost surface, ties
    broken by a packed-BIGINT min so both engines agree bit-for-bit."""
    from ..operators.costdist import cost_backlink

    return cost_backlink(
        _cost_grid(spark, sf_dir), src_ix=8, src_iy=8, res=4, rounds=24
    )


def _sql_cost_backlink() -> str:
    from ..operators.costdist import cost_backlink_sql

    return cost_backlink_sql(_cost_grid_sql(), src_ix=8, src_iy=8, res=4, rounds=24)


def q_cost_corridor(spark, sf_dir):
    """Least-cost corridor between opposite grid corners
    (operators/costdist.py: cost_corridor): cells whose best A→u→B cost is
    within a slack band of the optimal route — two shared surfaces, one
    equi-join, one window min; on_path marks the exact optimum."""
    from ..operators.costdist import cost_corridor

    return cost_corridor(
        _cost_grid(spark, sf_dir), a=(1, 1), b=(14, 14), res=4, rounds=30,
        slack=20.0,
    )


def _sql_cost_corridor() -> str:
    from ..operators.costdist import cost_corridor_sql

    return cost_corridor_sql(
        _cost_grid_sql(), a=(1, 1), b=(14, 14), res=4, rounds=30, slack=20.0
    )


_ISO_BREAKS = [60.0, 180.0, 540.0]


def q_isochrones(spark, sf_dir):
    """Isochrone bands over the cost surface (operators/costdist.py:
    isochrones): band by travel-cost breaks, per band the cell count, dist
    range, and perimeter (4-neighbor exposed edges — the raster→vector
    isoline length)."""
    from ..operators.costdist import isochrones

    return isochrones(
        _cost_grid(spark, sf_dir), src_ix=8, src_iy=8, res=4,
        breaks=_ISO_BREAKS, rounds=24,
    )


def _sql_isochrones() -> str:
    from ..operators.costdist import isochrones_sql

    return isochrones_sql(
        _cost_grid_sql(), src_ix=8, src_iy=8, res=4, breaks=_ISO_BREAKS,
        rounds=24,
    )


def q_hyperball(spark, sf_dir):
    """HyperBall/ANF over the real extracted link graph
    (operators/hyperball.py): per-host HLL ball sketches (m = 64 portable-
    hash registers) merged register-wise along in-edges for 4 rounds →
    estimated 4-hop reach + truncated harmonic centrality, bit-identical to
    the DuckDB twin including the float estimates."""
    from ..operators.curation import extract_links
    from ..operators.hyperball import hyperball

    return hyperball(extract_links(_dumps()._pages(spark)), rounds=4)


def _sql_hyperball() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.hyperball import hyperball_sql

    return hyperball_sql(extract_links_sql(_dumps()._PAGES_SQL), rounds=4)


def q_lof(spark, sf_dir):
    """Grid-bounded Local Outlier Factor over the embedding plane
    (operators/lof.py): k = 8 nearest within the 3×3 adaptive-resolution
    cell block → k-distance, reachability, lrd, LOF — every float sum an
    ordered fold, exact to the DuckDB twin."""
    from ..operators.lof import lof

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y"))
    return lof(pts, k=8, id_col="vec_id")


def _sql_lof() -> str:
    from ..operators.lof import lof_sql

    x, y = G.xy_sql("embedding", DIM)
    return lof_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings",
        k=8,
        id_col="vec_id",
    )


def q_spatial_scan(spark, sf_dir):
    """Kulldorff Poisson spatial scan statistic (operators/scanstat.py):
    case mark = a planted disk near (0.3, 0.45) plus an 1/11 hash
    background; one corpus groupBy to cells at res 4, then Chebyshev-ring
    zones via a 25-offset stencil over occupied-cell metadata, cumulative
    window over radius, twin-ln LLR, top-15 zones."""
    from ..operators.scanstat import spatial_scan

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    dx = x - F.lit(0.3)
    dy = y - F.lit(0.45)
    is_case = (dx * dx + dy * dy < F.lit(0.008)) | (
        F.pmod(G.hash63_col(F.col("vec_id")), F.lit(11)) == 0
    )
    pts = em.select(x.alias("x"), y.alias("y"), is_case.alias("is_case"))
    return spatial_scan(pts, res=4, rmax=2, top_k=15)


def _sql_spatial_scan() -> str:
    from ..operators.scanstat import spatial_scan_sql

    from ..functions.hexgen import flit

    x, y = G.xy_sql("embedding", DIM)
    h = G.hash63_sql("vec_id")
    c3, c45, r2 = flit(0.3), flit(0.45), flit(0.008)
    src = (
        f"SELECT {x} AS x, {y} AS y, "
        f"((({x}) - {c3}) * (({x}) - {c3}) + (({y}) - {c45}) * (({y}) - {c45}) < {r2}"
        f" OR ({h}) % 11 = 0) AS is_case FROM embeddings"
    )
    return spatial_scan_sql(src, res=4, rmax=2, top_k=15)


def q_index_size(spark, sf_dir):
    """d-gap + varint inverted-index size estimate (operators/ranking.py:
    index_size): delta-encoded doc_ids per term, varint byte counts via
    integer bit lengths (length(bin(v)) — no float log2), one postings
    window + one aggregate. The Lucene-style compression planning number
    for the persisted search index."""
    from ..operators.ranking import index_size

    return index_size(ld(spark, sf_dir, "documents").select("doc_id", "text"))


def _sql_index_size() -> str:
    from ..operators.ranking import index_size_sql

    return index_size_sql("SELECT doc_id, text FROM documents")


def q_kde_curvature(spark, sf_dir):
    """Zevenbergen-Thorne plan/profile curvature over the KDE raster
    (operators/heatmap.py: curvature_surface) — the second-derivative
    terrain band (ridges/channels, converging/diverging flow) completing
    heatmap → focal → terrain → curvature."""
    from ..operators.heatmap import curvature_surface, kde_heatmap

    e = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    raster = kde_heatmap(
        e.select(x.alias("x"), y.alias("y")), res=KDE_RES, bandwidth=KDE_BW
    )
    return curvature_surface(raster, res=KDE_RES)


def _sql_kde_curvature() -> str:
    from ..operators.heatmap import curvature_surface_sql

    return curvature_surface_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_mercator(spark, sf_dir):
    """Web-Mercator forward projection + slippy tile/pixel addressing at
    zoom 6 (operators/projection.py): twin sin/cos tangent, twin-ln
    Mercator stretch — bit-identical projected coordinates across engines;
    zero shuffles, pure codegen."""
    from ..operators.projection import mercator_project

    base = q_geo_chord(spark, sf_dir).select("vec_id", "lon", "lat")
    return mercator_project(base, zoom=6)


def _sql_mercator() -> str:
    from ..functions.hexgen import flit
    from ..operators.projection import mercator_project_sql

    x, y = G.xy_sql("embedding", DIM)
    src = f"""
SELECT vec_id,
       (({x}) - 0.5) * {flit(2.0 * 3.141592653589793)} AS lon,
       (({y}) - 0.5) * {flit(3.141592653589793)} AS lat
FROM embeddings"""
    return mercator_project_sql(src, zoom=6)


def q_scd2(spark, sf_dir):
    """SCD type-2 dimension maintenance (operators/merge.py: scd2_apply):
    versioned history — close-and-open on change, insert on new key,
    pass-through otherwise; ONE full-outer join of the current slice
    against the batch, the history slice never shuffles."""
    from ..operators.merge import scd2_apply

    cust = ld(spark, sf_dir, "customer")
    t0 = F.to_timestamp(F.lit("2024-01-01"))
    cur = cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    hist = cust.where(F.col("c_custkey") % 13 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("double") - F.lit(50.0)).alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        F.to_timestamp(F.lit("2023-01-01")).alias("valid_from"),
        t0.alias("valid_to"),
    )
    dim = cur.unionByName(hist)
    ts = F.to_timestamp(F.lit("2025-06-01"))
    upd_changed = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("double") + F.lit(100.0)).alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        ts.alias("ts"),
    )
    upd_same = cust.where(
        (F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        ts.alias("ts"),
    )
    upd_new = cust.where(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        ts.alias("ts"),
    )
    updates = upd_changed.unionByName(upd_same).unionByName(upd_new)
    return scd2_apply(dim, updates, ["c_custkey"], ["acctbal", "seg"])


def _sql_scd2() -> str:
    from ..operators.merge import scd2_apply_sql

    dim = """
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal, c_mktsegment AS seg,
       TIMESTAMP '2024-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
FROM customer
UNION ALL
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) - 50.0 AS acctbal, c_mktsegment AS seg,
       TIMESTAMP '2023-01-01' AS valid_from, TIMESTAMP '2024-01-01' AS valid_to
FROM customer WHERE c_custkey % 13 = 0
"""
    upd = """
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + 100.0 AS acctbal, c_mktsegment AS seg,
       TIMESTAMP '2025-06-01' AS ts
FROM customer WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal, c_mktsegment AS seg,
       TIMESTAMP '2025-06-01' AS ts
FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
       c_mktsegment AS seg, TIMESTAMP '2025-06-01' AS ts
FROM customer WHERE c_custkey % 97 = 0
"""
    return scd2_apply_sql(dim, upd, ["c_custkey"], ["acctbal", "seg"])


def q_gfunction(spark, sf_dir):
    """Diggle's G-function — nearest-neighbor distance ECDF vs the CSR
    reference 1−exp(−λπr²) (operators/stats.py: gfunction). NN distances
    ride the provably-exact grid ring search; the oracle is the brute-force
    n² twin, so a hash match doubles as a recall proof."""
    from ..operators.stats import gfunction

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return gfunction(em.select("vec_id", x.alias("x"), y.alias("y")), res=6)


def _sql_gfunction() -> str:
    from ..operators.stats import gfunction_sql

    x, y = G.xy_sql("embedding", DIM)
    return gfunction_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings")


def q_ndcg_eval(spark, sf_dir):
    """NDCG@10 of the BM25 run against term-coverage qrels
    (operators/ranking.py: ndcg_eval): rel(q,d) = #distinct query terms in
    d; plan-literal 1/log2(r+1) discounts, DECIMAL DCG sums, deterministic
    ideal-ordering tiebreak."""
    from ..operators.ranking import bm25_index, bm25_rank, ndcg_eval

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    run = bm25_rank(docs, qs, top_k=10, max_df_ratio=(9, 10))
    qterms = qs.select(
        "query_id", F.explode(G.words_col(F.col("qtext"))).alias("term")
    ).distinct()
    qrels = (
        bm25_index(docs)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").cast("long").alias("rel"))
    )
    return ndcg_eval(run, qrels, depth=10)


def _sql_ndcg_eval() -> str:
    from ..operators.ranking import ndcg_eval_sql

    qvals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    qrels = f"""
SELECT qt.query_id, p.doc_id, CAST(count(DISTINCT p.term) AS BIGINT) AS rel
FROM (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest({G.words_sql('text')}) AS term FROM documents)
  GROUP BY doc_id, term) p
JOIN (SELECT DISTINCT query_id, unnest({G.words_sql('qtext')}) AS term
      FROM (VALUES {qvals}) q(query_id, qtext)) qt
  ON p.term = qt.term
GROUP BY qt.query_id, p.doc_id"""
    return ndcg_eval_sql(_sql_bm25(top_k=10, ratio=(9, 10)), qrels, depth=10)


def q_weekday_effect(spark, sf_dir):
    """Day-of-week seasonality chi-square decomposition of event volume
    (operators/spacetime.py: weekday_effect) — 7 metadata rows from one
    corpus groupBy."""
    from ..operators.spacetime import weekday_effect

    return weekday_effect(ld(spark, sf_dir, "events"))


def _sql_weekday_effect() -> str:
    from ..operators.spacetime import weekday_effect_sql

    return weekday_effect_sql("SELECT ts FROM events")


def q_gap_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness of per-user inter-event times
    (operators/spacetime.py: gap_burstiness): B = (σ−μ)/(σ+μ) from one lag
    window + DECIMAL moments — the temporal sibling of term Fano."""
    from ..operators.spacetime import gap_burstiness

    return gap_burstiness(ld(spark, sf_dir, "events"))


def _sql_gap_burstiness() -> str:
    from ..operators.spacetime import gap_burstiness_sql

    return gap_burstiness_sql("SELECT event_id, user_id, ts FROM events")


def q_kneedle_eps(spark, sf_dir):
    """Kneedle knee of the sorted 5-distance curve (operators/stats.py:
    kneedle_eps): the engine derives DBSCAN's eps from its own exact grid
    kNN — no global sort (two-level value-bucket rank); oracle is the
    brute-force n² curve + plain sort."""
    from ..operators.stats import kneedle_eps

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return kneedle_eps(em.select("vec_id", x.alias("x"), y.alias("y")), k=5, res=6)


def _sql_kneedle_eps() -> str:
    from ..operators.stats import kneedle_eps_sql

    x, y = G.xy_sql("embedding", DIM)
    return kneedle_eps_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", k=5
    )


def q_docs_cube(spark, sf_dir):
    """CUBE over (lang, source) — every grouping-set subtotal in ONE
    Expand + hash aggregate (operators/olap.py: docs_cube); rolled-up
    dimensions normalized to 'ALL' so the twins hash-match."""
    from ..operators.olap import docs_cube

    return docs_cube(ld(spark, sf_dir, "documents"))


def _sql_docs_cube() -> str:
    from ..operators.olap import docs_cube_sql

    return docs_cube_sql("SELECT lang, source, n_chars FROM documents")


def q_events_moving_avg(spark, sf_dir):
    """Trailing 1-hour per-user moving aggregates with a TRUE RANGE frame
    over epoch seconds (operators/olap.py: events_moving_avg) — value-
    distance framing none of the ROWS-frame operators exercise."""
    from ..operators.olap import events_moving_avg

    return events_moving_avg(ld(spark, sf_dir, "events"), window_s=3600, top_k=500)


def _sql_events_moving_avg() -> str:
    from ..operators.olap import events_moving_avg_sql

    return events_moving_avg_sql(
        "SELECT event_id, user_id, ts, value FROM events", window_s=3600, top_k=500
    )


def q_tile_geomedian(spark, sf_dir):
    """Per-tile geometric median via 4 unrolled Weiszfeld rounds
    (operators/geostats.py: tile_geomedian) — the outlier-robust center
    next to the centroid band; fixed rounds ⇒ rounds-bounded exactness in
    both engines, one broadcast join + groupBy per round."""
    from ..operators.geostats import tile_geomedian

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return tile_geomedian(em.select(x.alias("x"), y.alias("y")), res=2, rounds=4)


def _sql_tile_geomedian() -> str:
    from ..operators.geostats import tile_geomedian_sql

    x, y = G.xy_sql("embedding", DIM)
    return tile_geomedian_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings", res=2, rounds=4
    )


def q_langid_eval(spark, sf_dir):
    """In-engine evaluation of the lang-id heuristic against the gold
    labels: confusion counts per (gold, guess) plus overall accuracy and
    Cohen's kappa (chance-corrected agreement) broadcast onto every row —
    the classifier-audit pattern any curation signal needs. All-integer
    confusion; kappa from exact marginal products."""
    docs = ld(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("gold"), G.lang_id_cols(F.col("text")).alias("guess")
    )
    conf = pred.groupBy("gold", "guess").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    tot = conf.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.when(F.col("gold") == F.col("guess"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    gm = conf.groupBy("gold").agg(F.sum("n").cast("long").alias("ng"))
    pm = conf.groupBy("guess").agg(F.sum("n").cast("long").alias("np"))
    chance = (
        gm.join(pm, gm["gold"] == pm["guess"])
        .agg(F.sum(F.col("ng") * F.col("np")).cast("long").alias("s_chance"))
    )
    z = tot.crossJoin(F.broadcast(chance))
    po = F.col("n_agree").cast("double") / F.col("n_tot").cast("double")
    pe = F.col("s_chance").cast("double") / (
        F.col("n_tot").cast("double") * F.col("n_tot").cast("double")
    )
    kappa = (po - pe) / (F.lit(1.0) - pe)
    metrics = z.select(
        F.round(po, 6).alias("accuracy"), F.round(kappa, 6).alias("kappa")
    )
    return conf.crossJoin(F.broadcast(metrics)).select(
        "gold", "guess", "n", "accuracy", "kappa"
    )


def _sql_langid_eval() -> str:
    return f"""
WITH pred AS (
  SELECT lang AS gold, {G.lang_id_sql('text')} AS guess FROM documents),
conf AS (
  SELECT gold, guess, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(CASE WHEN gold = guess THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM conf),
gm AS (SELECT gold, CAST(sum(n) AS BIGINT) AS ng FROM conf GROUP BY gold),
pm AS (SELECT guess, CAST(sum(n) AS BIGINT) AS np FROM conf GROUP BY guess),
chance AS (
  SELECT CAST(sum(ng * np) AS BIGINT) AS s_chance
  FROM gm JOIN pm ON gm.gold = pm.guess),
metrics AS (
  SELECT round(CAST(n_agree AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS accuracy,
         round(((CAST(n_agree AS DOUBLE) / CAST(n_tot AS DOUBLE))
                - (CAST(s_chance AS DOUBLE)
                   / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE))))
               / (1.0 - (CAST(s_chance AS DOUBLE)
                         / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)))), 6)
           AS kappa
  FROM tot, chance)
SELECT gold, guess, n, accuracy, kappa FROM conf, metrics
"""


def q_clarity_score(spark, sf_dir):
    """Query clarity — KL(relevance model ‖ corpus model) over the BM25
    top-10 feedback set (operators/ranking.py: clarity_score): the classic
    pre-retrieval difficulty predictor, twin-ln exact."""
    from ..operators.ranking import clarity_score

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    return clarity_score(docs, qs, fb_docs=10, max_df_ratio=(9, 10))


def _sql_clarity_score() -> str:
    from ..operators.ranking import clarity_score_sql

    return clarity_score_sql(
        BM25_QUERIES, fb_docs=10, bm25_sql=_sql_bm25(top_k=10, ratio=(9, 10))
    )


def q_graph_structure(spark, sf_dir):
    """Host-graph structural summary (operators/graph.py:
    graph_structure): link reciprocity + Newman degree assortativity from
    edge-list groupBys and five DECIMAL moments — the one-row health check
    of the crawl's link topology."""
    from ..operators.curation import extract_links
    from ..operators.graph import graph_structure

    return graph_structure(extract_links(_dumps()._pages(spark)))


def _sql_graph_structure() -> str:
    from ..operators.curation import extract_links_sql
    from ..operators.graph import graph_structure_sql

    return graph_structure_sql(extract_links_sql(_dumps()._PAGES_SQL))


def q_bootstrap_ci(spark, sf_dir):
    """Deterministic Poissonized bootstrap CI for the mean quality score
    (operators/sampling.py: bootstrap_ci): 64 hash-weighted resamples in
    ONE corpus pass, exact type-1 quantiles over resample means — the
    distributed uncertainty quantification a data-quality report ships."""
    from ..operators.sampling import bootstrap_ci

    docs = ld(spark, sf_dir, "documents").select(
        "doc_id", F.round(G.quality_score_cols(F.col("text")), 6).alias("q")
    )
    return bootstrap_ci(docs, "q", n_boot=64)


def _sql_bootstrap_ci() -> str:
    from ..operators.sampling import bootstrap_ci_sql

    return bootstrap_ci_sql(
        f"SELECT doc_id, round({G.quality_score_sql('text')}, 6) AS q FROM documents",
        "q",
        n_boot=64,
    )


def q_global_autocorr(spark, sf_dir):
    """Global Moran's I + Geary's C over the KDE raster
    (operators/heatmap.py: global_autocorr): the one-number
    autocorrelation verdicts completing the local LISA family; rook-edge
    probe join over cell metadata, DECIMAL cross-products."""
    from ..operators.heatmap import global_autocorr

    return global_autocorr(_kde_raster(spark, sf_dir), res=KDE_RES)


def _sql_global_autocorr() -> str:
    from ..operators.heatmap import global_autocorr_sql

    return global_autocorr_sql(f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})")


def q_rbo(spark, sf_dir):
    """Rank-biased overlap between the BM25 and query-likelihood runs
    (operators/ranking.py: rbo_compare): top-weighted ranking agreement per
    query with plan-time geometric weights — the engine-regression metric
    for the search stack."""
    from ..operators.ranking import bm25_rank, ql_rank, rbo_compare

    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id INT, qtext STRING")
    a = bm25_rank(docs, qs, top_k=10, max_df_ratio=(9, 10))
    b = ql_rank(docs, qs, top_k=10)
    return rbo_compare(a, b, p=0.9, depth=10)


def _sql_rbo() -> str:
    from ..operators.ranking import ql_rank_sql, rbo_compare_sql

    return rbo_compare_sql(
        _sql_bm25(top_k=10, ratio=(9, 10)),
        ql_rank_sql(BM25_QUERIES, top_k=10),
        p=0.9,
        depth=10,
    )


def q_segregation(spark, sf_dir):
    """Segregation indices over res-4 tiles (operators/pointpattern.py:
    segregation): Duncan dissimilarity between the two largest language
    groups + Theil's multigroup entropy H (twin ln) — one corpus groupBy,
    DECIMAL reductions over cell×category metadata."""
    from ..operators.pointpattern import segregation

    em = ld(spark, sf_dir, "embeddings")
    docs = ld(spark, sf_dir, "documents").select("doc_id", "lang")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.join(docs, em["vec_id"] == docs["doc_id"]).select(
        x.alias("x"), y.alias("y"), F.col("lang").alias("cat")
    )
    return segregation(pts, res=4)


def _sql_segregation() -> str:
    from ..operators.pointpattern import segregation_sql

    x, y = G.xy_sql("embedding", DIM)
    src = (
        f"SELECT {x} AS x, {y} AS y, lang AS cat "
        f"FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id"
    )
    return segregation_sql(src, res=4)


def q_box_dimension(spark, sf_dir):
    """Box-counting fractal dimension of the embedding point pattern
    (operators/pointpattern.py: box_dimension): occupied-cell counts at
    res 2..8 from ONE corpus groupBy + parent rollups, twin-ln OLS over
    the 7 metadata rows."""
    from ..operators.pointpattern import box_dimension

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return box_dimension(em.select(x.alias("x"), y.alias("y")), res_lo=2, res_hi=8)


def _sql_box_dimension() -> str:
    from ..operators.pointpattern import box_dimension_sql

    x, y = G.xy_sql("embedding", DIM)
    return box_dimension_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings", res_lo=2, res_hi=8
    )


def q_colocation_quotient(spark, sf_dir):
    """Colocation quotient matrix (operators/stats.py:
    colocation_quotient): which languages sit next to which in embedding
    space — categorical NN statistic over the exact grid ring search;
    oracle is the brute-force n² twin with identical tiebreaks."""
    from ..operators.stats import colocation_quotient

    em = ld(spark, sf_dir, "embeddings")
    docs = ld(spark, sf_dir, "documents").select("doc_id", "lang")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select("vec_id", x.alias("x"), y.alias("y")).join(
        docs, em["vec_id"] == docs["doc_id"]
    ).select("vec_id", "x", "y", F.col("lang").alias("cat"))
    return colocation_quotient(pts, res=6)


def _sql_colocation_quotient() -> str:
    from ..operators.stats import colocation_quotient_sql

    x, y = G.xy_sql("embedding", DIM)
    src = (
        f"SELECT vec_id, {x} AS x, {y} AS y, lang AS cat "
        f"FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id"
    )
    return colocation_quotient_sql(src)


def q_dasymetric(spark, sf_dir):
    """Dasymetric disaggregation (operators/areal.py: dasymetric): res-2
    zone document totals redistributed onto the nested KDE res-5 cells in
    proportion to density — mass-conserving per zone; pure raster-to-raster
    metadata algebra."""
    from ..operators.areal import dasymetric

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    cell2 = G.cell_col(x, y, 2)
    zones = (
        em.select(cell2.alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
        .select(
            F.shiftrightunsigned(F.col("c"), 29).bitwiseAND(F.lit((1 << 29) - 1)).alias("zx"),
            F.col("c").bitwiseAND(F.lit((1 << 29) - 1)).alias("zy"),
            "total",
        )
    )
    mask = _kde_raster(spark, sf_dir).select("ix", "iy", F.col("density").alias("w"))
    return dasymetric(zones, mask, res_zone=2, res_mask=KDE_RES)


def _sql_dasymetric() -> str:
    from ..operators.areal import dasymetric_sql

    x, y = G.xy_sql("embedding", DIM)
    zones = f"""
SELECT (c >> 29) & {(1 << 29) - 1} AS zx, c & {(1 << 29) - 1} AS zy, total FROM (
  SELECT {G.cell_sql(x, y, 2)} AS c, CAST(count(*) AS BIGINT) AS total
  FROM embeddings GROUP BY 1)"""
    mask = f"SELECT ix, iy, density AS w FROM ({_sql_kde_heatmap()})"
    return dasymetric_sql(zones, mask, res_zone=2, res_mask=KDE_RES)


def q_accessibility(spark, sf_dir):
    """Two-step floating catchment accessibility (operators/geostats.py:
    accessibility_2sfca): per-site supply/demand ratios within d0, summed
    back per demand cell — the service-planning index; two cells × sites
    broadcast fan-outs over cell metadata."""
    from ..operators.geostats import accessibility_2sfca

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select(x.alias("x"), y.alias("y"))
    sites = _voronoi_seeds(spark, sf_dir).select(
        "sid", "sx", "sy", (F.lit(10.0) + (F.col("sid") % 3).cast("double")).alias("s")
    )
    return accessibility_2sfca(pts, sites, d0=0.25, res=4)


def _sql_accessibility() -> str:
    from ..operators.geostats import accessibility_2sfca_sql

    x, y = G.xy_sql("embedding", DIM)
    sites = (
        f"SELECT sid, sx, sy, 10.0 + CAST(sid % 3 AS DOUBLE) AS s "
        f"FROM ({_voronoi_seeds_sql()})"
    )
    return accessibility_2sfca_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings", sites, d0=0.25, res=4
    )


def q_doc_novelty(spark, sf_dir):
    """Per-page shingle novelty vs the whole crawl history
    (operators/drift.py: doc_novelty): share of a page's 3-gram shingles
    first seen in its own week — the freshness prioritization signal."""
    from ..operators.drift import doc_novelty

    return doc_novelty(_dumps()._pages(spark))


def _sql_doc_novelty() -> str:
    from ..operators.drift import doc_novelty_sql

    return doc_novelty_sql(f"SELECT url, warc_ts, text FROM {_dumps()._PAGES_PQ}")


def q_tile_quantiles(spark, sf_dir):
    """Per-tile exact token-count quantiles (operators/stats.py:
    group_quantiles grouped by res-2 cell): the tile-level distribution
    band a corpus-balance dashboard reads — p50/p90/p99 per tile with
    type-1 integer rank picks, no sketches."""
    from ..operators.stats import group_quantiles

    em = ld(spark, sf_dir, "embeddings")
    docs = ld(spark, sf_dir, "documents")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    j = em.select(
        F.col("vec_id"), G.cell_col(x, y, 2).alias("cell")
    ).join(docs.select("doc_id", G.token_count_col(F.col("text")).alias("ntok")),
           em["vec_id"] == F.col("doc_id"))
    return group_quantiles(j.select("cell", "ntok"), "cell", "ntok")


def _sql_tile_quantiles() -> str:
    from ..operators.stats import group_quantiles_sql

    x, y = G.xy_sql("embedding", DIM)
    src = (
        f"SELECT {G.cell_sql(x, y, 2)} AS cell, {G.token_count_sql('text')} AS ntok "
        f"FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id"
    )
    return group_quantiles_sql(src, "cell", "ntok")


def q_host_mad(spark, sf_dir):
    """MAD-robust latest-week anomaly per host (operators/drift.py:
    host_mad_anomaly): exact rank medians for both center and spread —
    the outlier-immune sibling of host_anomaly's z-scores."""
    from ..operators.drift import host_mad_anomaly
    from ..operators.webops import URL_RE

    return host_mad_anomaly(_dumps()._pages(spark), URL_RE)


def _sql_host_mad() -> str:
    from ..operators.drift import host_mad_anomaly_sql
    from ..operators.webops import URL_RE

    return host_mad_anomaly_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}", URL_RE)


def q_host_forecast(spark, sf_dir):
    """One-step SES backtest of weekly host volume (operators/drift.py:
    host_ses_forecast): plan-literal geometric decay weights, DECIMAL
    weighted sum, absolute-percentage error vs the held-out last week."""
    from ..operators.drift import host_ses_forecast
    from ..operators.webops import URL_RE

    return host_ses_forecast(_dumps()._pages(spark), URL_RE)


def _sql_host_forecast() -> str:
    from ..operators.drift import host_ses_forecast_sql
    from ..operators.webops import URL_RE

    return host_ses_forecast_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}", URL_RE)


def q_host_cusum(spark, sf_dir):
    """Page-CUSUM change-point detection on per-host weekly crawl volume
    (operators/drift.py: host_cusum): S_t = Σ(c_i − mean), change week at
    the |S| peak — the step-change alarm complementing Theil-Sen's trend
    and host_anomaly's z-scores."""
    from ..operators.drift import host_cusum
    from ..operators.webops import URL_RE

    return host_cusum(_dumps()._pages(spark), URL_RE)


def _sql_host_cusum() -> str:
    from ..operators.drift import host_cusum_sql
    from ..operators.webops import URL_RE

    return host_cusum_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}", URL_RE)


def q_raster_upsample(spark, sf_dir):
    """Bilinear 2× raster upsample (operators/heatmap.py: raster_upsample):
    the tile-server overzoom render — separable (3/4, 1/4) weights, 16×
    bounded scatter over coarse-cell metadata, exact dyadic weight sums."""
    from ..operators.heatmap import raster_upsample

    return raster_upsample(_kde_raster(spark, sf_dir), res=KDE_RES)


def _sql_raster_upsample() -> str:
    from ..operators.heatmap import raster_upsample_sql

    return raster_upsample_sql(
        f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})", res=KDE_RES
    )


def q_huff_model(spark, sf_dir):
    """Huff probabilistic catchment model (operators/geostats.py:
    huff_model): per-site expected captured demand under P_ij ∝ w_j/d² —
    the probabilistic sibling of the Voronoi partition; cells × 12-site
    broadcast fan-out over cell metadata, DECIMAL normalizers."""
    from ..operators.geostats import huff_model

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    pts = em.select(x.alias("x"), y.alias("y"))
    sites = _voronoi_seeds(spark, sf_dir).select(
        "sid", "sx", "sy", (F.lit(1.0) + (F.col("sid") % 5).cast("double")).alias("w")
    )
    return huff_model(pts, sites, res=4)


def _sql_huff_model() -> str:
    from ..operators.geostats import huff_model_sql

    x, y = G.xy_sql("embedding", DIM)
    sites = (
        f"SELECT sid, sx, sy, 1.0 + CAST(sid % 5 AS DOUBLE) AS w "
        f"FROM ({_voronoi_seeds_sql()})"
    )
    return huff_model_sql(
        f"SELECT {x} AS x, {y} AS y FROM embeddings", sites, res=4
    )


def q_term_burstiness(spark, sf_dir):
    """Church-Gale burstiness (operators/drift.py: term_burstiness): Fano
    factor of per-document term counts with the zero documents folded into
    closed-form moments — topical vocabulary with zero linguistics."""
    from ..operators.drift import term_burstiness

    return term_burstiness(ld(spark, sf_dir, "documents").select("doc_id", "text"))


def _sql_term_burstiness() -> str:
    from ..operators.drift import term_burstiness_sql

    return term_burstiness_sql("SELECT doc_id, text FROM documents")


def q_kde_twi(spark, sf_dir):
    """Topographic wetness index TWI = ln((acc+1) / max(tanβ, ε)) — the
    hydrology composite joining flow accumulation (operators/hydrology.py)
    with the Horn slope (operators/heatmap.py: terrain_surface) through the
    twin ln; high TWI = accumulation zones (valleys of the density
    surface). One cell-metadata join over two already-exact bands."""
    from ..operators.heatmap import terrain_surface
    from ..operators.hydrology import flow_accumulation

    raster = _kde_raster(spark, sf_dir)
    acc = flow_accumulation(raster, res=KDE_RES).select("cell_id", "ix", "iy", "acc")
    slope = terrain_surface(raster, res=KDE_RES).select("ix", "iy", "tan_slope")
    j = acc.join(slope, ["ix", "iy"])
    arg = (F.col("acc") + F.lit(1)).cast("double") / F.greatest(
        F.col("tan_slope"), F.lit(0.001)
    )
    staged = j.select("cell_id", "ix", "iy", "acc", "tan_slope", arg.alias("arg"))
    return staged.select(
        "cell_id",
        "ix",
        "iy",
        "acc",
        "tan_slope",
        F.round(G.ln_col(F.col("arg")), 6).alias("twi"),
    )


def _sql_kde_twi() -> str:
    from ..operators.heatmap import terrain_surface_sql
    from ..operators.hydrology import flow_accumulation_sql

    raster = f"SELECT ix, iy, density FROM ({_sql_kde_heatmap()})"
    return f"""
WITH acc AS (SELECT cell_id, ix, iy, acc FROM ({flow_accumulation_sql(raster, KDE_RES)})),
slope AS (SELECT ix, iy, tan_slope FROM ({terrain_surface_sql(raster, KDE_RES)})),
j AS (
  SELECT a.cell_id, a.ix, a.iy, a.acc, s.tan_slope,
         CAST(a.acc + 1 AS DOUBLE) / greatest(s.tan_slope, 0.001) AS arg
  FROM acc a JOIN slope s ON a.ix = s.ix AND a.iy = s.iy)
SELECT cell_id, ix, iy, acc, tan_slope, round({G.ln_sql('arg')}, 6) AS twi
FROM j
"""


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    ln(rank) for the top-200 terms — slope ≈ −1 is the classic signature;
    drift in the slope flags scraper breakage or template spam. Twin ln +
    DECIMAL moment sums; ranking ties broken by term."""
    from pyspark.sql import Window

    docs = ld(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(G.words_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "term")
    top = freqs.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= 200
    )
    staged = top.select(
        F.col("rnk").cast("double").alias("xr"),
        F.col("freq").cast("double").alias("yf"),
    )
    lx = G.ln_col(F.col("xr"))
    ly = G.ln_col(F.col("yf"))
    pts = staged.select(lx.alias("lx"), ly.alias("ly"))
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("lx").cast(DEC2)).cast("double").alias("sx"),
        F.sum(F.col("ly").cast(DEC2)).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast(DEC2)).cast("double").alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast(DEC2)).cast("double").alias("sxx"),
        F.sum((F.col("ly") * F.col("ly")).cast(DEC2)).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    s2 = s.select("n", "sx", "sy", "sxy", "sxx", "syy", slope.alias("slope"))
    intercept = (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n").cast("double")
    s3 = s2.select("n", "sx", "sy", "sxy", "sxx", "syy", "slope", intercept.alias("b0"))
    ss_tot = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n").cast("double")
    ss_res = (
        F.col("syy")
        + F.col("slope") * F.col("slope") * F.col("sxx")
        + F.col("n").cast("double") * F.col("b0") * F.col("b0")
        - F.lit(2.0) * F.col("slope") * F.col("sxy")
        - F.lit(2.0) * F.col("b0") * F.col("sy")
        + F.lit(2.0) * F.col("slope") * F.col("b0") * F.col("sx")
    )
    return s3.select(
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("b0", 6).alias("intercept"),
        F.round(F.lit(1.0) - ss_res / ss_tot, 6).alias("r2"),
    )


def _sql_zipf_fit() -> str:
    ws = G.words_sql("text")
    return f"""
WITH freqs AS (
  SELECT term, count(*)::BIGINT AS freq FROM (
    SELECT unnest({ws}) AS term FROM documents)
  GROUP BY term),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rnk, freq
  FROM freqs QUALIFY rnk <= 200),
staged AS (
  SELECT CAST(rnk AS DOUBLE) AS xr, CAST(freq AS DOUBLE) AS yf FROM top),
pts AS (
  SELECT {G.ln_sql('xr')} AS lx, {G.ln_sql('yf')} AS ly FROM staged),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(lx AS DECIMAL(28,15))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS DECIMAL(28,15))) AS DOUBLE) AS sy,
         CAST(sum(CAST(lx * ly AS DECIMAL(28,15))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(lx * lx AS DECIMAL(28,15))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ly * ly AS DECIMAL(28,15))) AS DOUBLE) AS syy
  FROM pts),
s2 AS (
  SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy)
            / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
  FROM s),
s3 AS (SELECT *, (sy - slope * sx) / CAST(n AS DOUBLE) AS b0 FROM s2)
SELECT n, round(slope, 6) AS slope, round(b0, 6) AS intercept,
       round(1.0 - (syy + slope * slope * sxx + CAST(n AS DOUBLE) * b0 * b0
                    - 2.0 * slope * sxy - 2.0 * b0 * sy + 2.0 * slope * b0 * sx)
                   / (syy - sy * sy / CAST(n AS DOUBLE)), 6) AS r2
FROM s3
"""


def q_spacetime_scan(spark, sf_dir):
    """Prospective space-time scan (operators/scanstat.py: spacetime_scan):
    cylinders = Chebyshev zone × trailing day window ending at the latest
    day, Poisson LLR over (cell, day) metadata — SaTScan's emerging-cluster
    mode; cases = error events."""
    from ..operators.scanstat import spacetime_scan

    ev = ld(spark, sf_dir, "events").select("event_id", "event_type")
    pts = _ev_xy(spark, sf_dir).join(ev, "event_id").select(
        "x", "y", "ts", (F.col("event_type") == "error").alias("is_case")
    )
    return spacetime_scan(pts, res=4, rmax=2, wmax=7, top_k=15)


def _sql_spacetime_scan() -> str:
    from ..operators.scanstat import spacetime_scan_sql

    src = (
        f"SELECT t.x, t.y, t.ts, (e.event_type = 'error') AS is_case "
        f"FROM ({_ev_xy_sql()}) t JOIN events e ON t.event_id = e.event_id"
    )
    return spacetime_scan_sql(src, res=4, rmax=2, wmax=7, top_k=15)


def q_jfunction(spark, sf_dir):
    """F-function (empty space from a deterministic probe grid) and the
    van Lieshout-Baddeley J = (1−G)/(1−F) (operators/stats.py: jfunction)
    — completes the G/F/J point-process trio; both NN passes ride the
    exact grid ring search, oracle is brute-force n²."""
    from ..operators.stats import jfunction

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return jfunction(em.select("vec_id", x.alias("x"), y.alias("y")), res=6)


def _sql_jfunction() -> str:
    from ..operators.stats import jfunction_sql

    x, y = G.xy_sql("embedding", DIM)
    return jfunction_sql(f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings")


def q_cell_skew(spark, sf_dir):
    """Hot-cell skew report (operators/pointpattern.py: cell_skew): exact
    occupancy quantiles, max/avg skew ratio, hottest-cell share and the
    salt factor the rollup salting machinery would apply — the partition-
    planning diagnostic, computed from one corpus groupBy."""
    from ..operators.pointpattern import cell_skew

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return cell_skew(em.select(x.alias("x"), y.alias("y")), res=6)


def _sql_cell_skew() -> str:
    from ..operators.pointpattern import cell_skew_sql

    x, y = G.xy_sql("embedding", DIM)
    return cell_skew_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=6)


def q_str_layout(spark, sf_dir):
    """Sort-Tile-Recursive R-tree bulk-load packing (operators/layout.py:
    str_layout): x-phase global rank via the two-level value-bucket prefix
    sum (no global sort), slice-partitioned y-phase, integer page math.
    Oracle = the plain two-sort STR."""
    from ..operators.layout import str_layout

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return str_layout(
        em.select("vec_id", x.alias("x"), y.alias("y")), page_cap=64
    )


def _sql_str_layout() -> str:
    from ..operators.layout import str_layout_sql

    x, y = G.xy_sql("embedding", DIM)
    return str_layout_sql(
        f"SELECT vec_id, {x} AS x, {y} AS y FROM embeddings", page_cap=64
    )


def q_term_drift(spark, sf_dir):
    """Jensen-Shannon divergence between consecutive crawl weeks' term
    distributions (operators/drift.py): one (term, week) groupBy, lead()
    pairing over the tiny week list, twin-ln KL halves, DECIMAL sums —
    the distribution-shift alarm for a recrawled corpus."""
    from ..operators.drift import term_drift

    return term_drift(_dumps()._pages(spark))


def _sql_term_drift() -> str:
    from ..operators.drift import term_drift_sql

    return term_drift_sql(f"SELECT warc_ts, text FROM {_dumps()._PAGES_PQ}")


def q_theil_sen(spark, sf_dir):
    """Per-host Theil-Sen robust trend of weekly crawl volume
    (operators/drift.py): exact lower median of all pairwise slopes over
    host-week metadata — outlier weeks cannot move it."""
    from ..operators.drift import theil_sen_hosts
    from ..operators.webops import URL_RE

    return theil_sen_hosts(_dumps()._pages(spark), URL_RE)


def _sql_theil_sen() -> str:
    from ..operators.drift import theil_sen_hosts_sql
    from ..operators.webops import URL_RE

    return theil_sen_hosts_sql(f"SELECT url, warc_ts FROM {_dumps()._PAGES_PQ}", URL_RE)


def q_host_gini(spark, sf_dir):
    """Gini coefficient of pages-per-host (operators/drift.py): closed-form
    rank formula over host metadata with an all-integer numerator — the
    crawl-concentration dial."""
    from ..operators.drift import host_gini
    from ..operators.webops import URL_RE

    return host_gini(_dumps()._pages(spark), URL_RE)


def _sql_host_gini() -> str:
    from ..operators.drift import host_gini_sql
    from ..operators.webops import URL_RE

    return host_gini_sql(f"SELECT url FROM {_dumps()._PAGES_PQ}", URL_RE)


def q_join_counts(spark, sf_dir):
    """Cliff-Ord join-count statistics (operators/pointpattern.py):
    binary cell coloring from the spam-ish hash mark, rook-edge BB/WW/BW
    counts vs the nonfree-sampling CSR expectation — the categorical
    sibling of Moran's I, over cell metadata only."""
    from ..operators.pointpattern import join_counts

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    mark = F.pmod(G.hash63_col(F.col("vec_id")), F.lit(3)) == 0
    return join_counts(
        em.select(x.alias("x"), y.alias("y"), mark.alias("mark")), res=4
    )


def _sql_join_counts() -> str:
    from ..operators.pointpattern import join_counts_sql

    x, y = G.xy_sql("embedding", DIM)
    h = G.hash63_sql("vec_id")
    return join_counts_sql(
        f"SELECT {x} AS x, {y} AS y, ({h}) % 3 = 0 AS mark FROM embeddings",
        res=4,
    )


def q_quadrat_test(spark, sf_dir):
    """Quadrat-count chi-square CSR test (operators/pointpattern.py): all
    4^res quadrats via the closed form Σ(c−λ)² = Σc² − N²/m — one corpus
    groupBy, then scalar algebra; VMR > 1 reads clustered."""
    from ..operators.pointpattern import quadrat_test

    em = ld(spark, sf_dir, "embeddings")
    x, y = G.xy_cols(F.col("embedding"), DIM)
    return quadrat_test(em.select(x.alias("x"), y.alias("y")), res=3)


def _sql_quadrat_test() -> str:
    from ..operators.pointpattern import quadrat_test_sql

    x, y = G.xy_sql("embedding", DIM)
    return quadrat_test_sql(f"SELECT {x} AS x, {y} AS y FROM embeddings", res=3)


def q_radius_gyration(spark, sf_dir):
    """Per-user radius of gyration + visit-cell entropy
    (operators/pointpattern.py): the González-Hidalgo-Barabási mobility
    summary via one-pass DECIMAL moments and twin-ln entropy; top-200 most
    dispersed users."""
    from ..operators.pointpattern import radius_gyration

    return radius_gyration(
        _ev_xy(spark, sf_dir).select("user_id", "x", "y"), res=5, top_k=200
    )


def _sql_radius_gyration() -> str:
    from ..operators.pointpattern import radius_gyration_sql

    return radius_gyration_sql(
        f"SELECT user_id, x, y FROM ({_ev_xy_sql()})", res=5, top_k=200
    )


def q_textrank(spark, sf_dir):
    """TextRank keyword extraction: undirected adjacent-word co-occurrence
    graph (vocabulary-cardinality, min-count-pruned) + the engine's exact
    fixed-round DECIMAL PageRank — top-20 corpus keywords."""
    from ..operators.keywords import textrank_keywords

    return textrank_keywords(ld(spark, sf_dir, "documents").select("text"))


def _sql_textrank() -> str:
    from ..operators.keywords import textrank_keywords_sql

    return textrank_keywords_sql("SELECT text FROM documents")
