"""Registry timer: the headline legs at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Every leg in ``LEGS`` names a registry query (``plans/contract.py``
``QUERIES``). Its number is the minimum of ``RUNS`` runs of
``QUERIES[name](spark, sf_dir)`` collected to pandas, and the last run's
output is then compared with the query's DuckDB ``oracle_sql()`` twin by
``scripts/check_contract.py``'s ``check_query``. The tree oracles read the
``.tree_dumps/sf0.01_*`` dumps, so at any other scale those legs print
``unchecked (oracle pinned to sf0.01)``. Registry queries
that keep a built structure per session (the tree, lake and tile-stats
tables) time its reuse after the first run.

The legs no registry query covers:
  - ``tree_build`` / ``tree_build_hex``: the flagship build, quad and hex;
  - ``incremental_update``: a 1% delta folded into the built tree;
  - ``interactive_retrieve``: single-question p50/p95 and the per-question
    cost of a 200-question batch (``retrieve_latency``);
  - ``marginal_scaling``: the ``MARGINAL`` legs over a 1x and a ``MULT``x
    replica of the sf directory (ids shifted, embeddings jittered per copy,
    each table written as ``cpus`` part files so both sizes read one input
    split per core), and the Knox test at 1x and ``DENSITY_MULT``x event
    density in the same extent. A marginal leg that leaves no rows (or
    no Knox points) to work on fails its check.

Prints one JSON line (``metric``, ``value`` = the sum of the legs, ``unit``,
``queries``, ``checks``, ``sf``, ``cpus``, ``pages_per_sec``,
``retrieve_latency``, ``marginal_scaling``) and exits 1 when a check fails.
Progress and one status line per leg go to stderr.

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from raptor_rag_spark.plans.contract import ORACLES, QUERIES
from scripts.check_contract import TABLES, check_query, oracle_views

ROOT = os.path.dirname(os.path.abspath(__file__))

RUNS = 3
MULT = 10
DENSITY_MULT = 100
DENSITY_BASE = 2000  # events at 1x density
MAX_RES = 8
PINNED = ".tree_dumps/sf0.01_"
UNCHECKED = "unchecked (oracle pinned to sf0.01)"

# one registry query per leg, in the order of the suite this replaced (BENCH.md)
LEGS = [
    "tree_collapsed_knn", "tree_cell_knn", "tree_tile_stats", "pip_join", "soft_assign",
    "exact_dedup", "minhash_pairs", "dedup_clusters", "simhash", "emb_topk", "emb_ivf_topk",
    "grid_knn", "multimodal_decode", "bm25_rank", "ql_rank", "rrf_hybrid", "rm3_rank",
    "mmr_diversify", "snippet_extract", "sdm_rank", "kde_heatmap", "kde_focal", "kde_pyramid",
    "doc_lm_score", "doc_top_terms", "corpus_shards", "zonal_stats", "grid_dbscan", "idw_surface",
    "para_dedup", "pii_scrub", "url_canon", "link_graph", "phrase_search", "cell_extremes",
    "srp_pairs", "getis_ord", "merge_upsert", "token_quantiles", "dup_spans", "link_pagerank",
    "zorder_layout", "hilbert_layout", "region_boundary", "distance_transform", "tile_hulls",
    "skyline", "triangle_count", "kcore", "bigram_lm", "funnel", "event_transitions",
    "cohort_retention", "doc_tokens", "doc_lang", "doc_quality", "hex_pyramid", "winnow_matches",
    "geo_chord", "s2_cells", "hex_soft", "geo_bearing", "path_rollup", "host_distances",
    "term_bursts", "host_recency", "host_communities", "quality_rank", "simhash_near", "cdc_dup",
    "stay_points", "lake_zorder_scan", "tile_incremental", "sd_ellipse", "knox_test", "knox_capped",
    "gravity_model", "headtail_breaks", "quadtree_leaves", "quadtree_assign", "voronoi_raster",
    "voronoi_route", "kmeans_silhouette", "containment", "colocation", "clark_evans",
    "trend_surface", "cost_distance", "spatial_scan", "join_counts", "quadrat_test",
    "spacetime_scan", "box_dimension", "mercator_tiles", "wand_rank", "term_drift", "theil_sen",
    "host_gini", "str_layout", "tile_geomedian", "huff_model", "accessibility_2sfca",
    "segregation", "bootstrap_ci", "clarity_score", "interval_overlap", "attribution_linear",
    "sequence_pack", "rake_keywords", "dd_quantiles", "mixture_sample", "gwr_local",
    "radiation_model", "c4_gopher_filters", "text_tiling", "readability", "kaplan_meier",
    "hll_overlap", "betweenness", "robustness_curve", "stylometry_delta", "benford_digits",
]
# the heaviest corpus passes, timed again over the 1x and MULTx replicas
MARGINAL = ["bm25_rank", "sdm_rank", "spatial_scan", "spacetime_scan", "knox_test", "srp_pairs"]
DENSITY_LEG = "knox_test"
ID_COL = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}

QUESTIONS = [
    "spark join data", "customer order totals", "streaming watermark state",
    "partition shuffle skew", "broadcast hash join", "parquet column pruning",
    "window rank filter", "tile rollup summary", "cell pruned candidates",
    "embedding nearest neighbor", "token budget cutoff", "crawl frontier hosts",
    "merge sort batch", "query scan filter", "group agg value", "fast row column",
    "big data line", "hash key group", "stream batch slow", "order customer part",
]


def timed(spark, name, fn):
    """(min wall over RUNS runs, last result) of fn(); jobs carry the leg's
    name as their group, so an event log attributes them."""
    spark.sparkContext.setJobGroup(name, name)
    best, out = float("inf"), None
    for _ in range(RUNS):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobGroup("", "")
    return round(best, 3), out


def run_leg(spark, name, sf_dir, con):
    """(seconds or None, check status, last output) of registry leg
    ``name`` at ``sf_dir``."""
    walls = []

    def run():
        wall, out = timed(spark, name, lambda: QUERIES[name](spark, sf_dir).toPandas())
        walls.append(wall)
        return out

    pinned = PINNED in ORACLES[name] and os.path.basename(sf_dir.rstrip("/")) != "sf0.01"
    status, msg, got = check_query(name, run, con, None if pinned else ORACLES[name])
    if status == "weak":
        status = UNCHECKED
    elif status == "FAIL":
        status = f"FAIL ({msg.splitlines()[0][:200]})"
    return (walls[0] if walls else None), status, got


def write_replica(spark, sf_dir, out, mult, tables, parts, head=None):
    """``sf_dir`` as another sf directory at ``out``: each of ``tables`` (its
    first ``head`` rows by id, when given) repeated ``mult`` times, ids
    shifted by the row count per copy and embeddings jittered per copy so
    cells fill up instead of stacking duplicates, written as ``parts`` part
    files (one input split each); other tables linked."""
    from pyspark.sql import functions as F

    os.makedirs(out)
    rep = spark.range(mult).select(F.col("id").alias("rep"))
    for t in TABLES:
        path = f"{out}/{t}.parquet"
        if t not in tables:
            os.symlink(f"{sf_dir}/{t}.parquet", path)
            continue
        key = ID_COL[t]
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if head is not None:
            df = df.orderBy(key).limit(head)
        n = df.count()
        big = df.crossJoin(F.broadcast(rep)).withColumn(
            key, (F.col(key) + F.col("rep") * F.lit(n)).cast(df.schema[key].dataType)
        )
        if t == "embeddings":
            jitter = lambda v, i: (  # noqa: E731
                v + F.sin((i + F.lit(1)) * (F.col("rep") + F.lit(1))) * F.lit(0.03)
            ).cast("float")
            big = big.withColumn("embedding", F.transform("embedding", jitter))
        big.drop("rep").repartition(parts).write.parquet(path)


def marginal_scaling(spark, sf_dir, cpus, checks):
    """Per-doc cost of the MARGINAL legs at MULTx input against 1x, and of
    the Knox test at DENSITY_MULTx event density in the same extent."""

    def leg(name, d, tag):
        wall, status, got = run_leg(spark, name, d, oracle_views(d))
        if status == "ok" and (got.empty or ("n" in got and not (got["n"] > 0).all())):
            status = "FAIL (no rows left to time)"
        checks[f"{name}@{tag}"] = status
        log(f"{status:<8} {name}@{tag}: {wall} s")
        return wall

    def ratio(key, w1, wm, mult):
        if w1 and wm:
            out["legs"][key] = {
                "wall_small_s": w1,
                "wall_big_s": wm,
                "per_doc_ratio": round((wm / mult) / w1, 3),
                "marginal_ratio": round((wm - w1) / ((mult - 1) * w1), 3),
            }

    scratch = tempfile.mkdtemp(prefix="bench_replica_")
    try:
        small, big, base, dense = (
            os.path.join(scratch, d) for d in ("small", "big", "base", "dense")
        )
        corpus = ("documents", "embeddings", "events")
        write_replica(spark, sf_dir, small, 1, corpus, cpus)
        write_replica(spark, sf_dir, big, MULT, corpus, cpus)
        write_replica(spark, sf_dir, base, 1, ("events",), cpus, head=DENSITY_BASE)
        write_replica(spark, sf_dir, dense, DENSITY_MULT, ("events",), cpus, head=DENSITY_BASE)
        n_small, n_big = (spark.read.parquet(f"{d}/documents.parquet").count() for d in (small, big))
        out = {"mult": MULT, "n_docs_small": n_small, "n_docs_big": n_big, "legs": {}}
        for name in MARGINAL:
            ratio(name, leg(name, small, "1x"), leg(name, big, f"{MULT}x"), MULT)
        ratio(
            f"{DENSITY_LEG}_density{DENSITY_MULT}", leg(DENSITY_LEG, base, "1x"),
            leg(DENSITY_LEG, dense, f"{DENSITY_MULT}x"), DENSITY_MULT,
        )
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def retrieve_latency(spark, tree) -> dict:
    """Warm single-question latency over QUESTIONS, and the per-question
    wall of one 200-question batch on the same facade."""
    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig

    ra = RetrievalAugmentation(spark, ClusterTreeConfig(max_tokens=64), tree=tree)
    ra.retrieve("warm up the retrieval path", top_k=5)
    lat = []
    for q in QUESTIONS:
        t0 = time.perf_counter()
        ra.retrieve(q, top_k=5)
        lat.append(time.perf_counter() - t0)
    lat.sort()
    qdf = spark.createDataFrame(
        [(i, QUESTIONS[i % len(QUESTIONS)]) for i in range(200)], "query_id long, qtext string"
    )
    t0 = time.perf_counter()
    ra.retrieve_batch(qdf, top_k=5).count()
    batch = time.perf_counter() - t0
    return {
        "n": len(lat),
        "p50_s": round(lat[len(lat) // 2], 4),
        "p95_s": round(lat[int(len(lat) * 0.95)], 4),
        "min_s": round(lat[0], 4),
        "max_s": round(lat[-1], 4),
        "mean_s": round(sum(lat) / len(lat), 4),
        "batch_n": 200,
        "batch_per_q_s": round(batch / 200, 4),
    }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> int:
    # the Python workers import this checkout too, whatever the working
    # directory (this process finds it as the script's own directory)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from pyspark.sql import functions as F

    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree
    from raptor_rag_spark.session import get_spark, warm_python_workers

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    spark = get_spark("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)

    # the sf parquet file is one input split; spread the corpus over the
    # cores as a real scan would (untimed corpus prep)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus).cache()
    n_docs = docs.count()
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=MAX_RES)
    hex_cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=5, lattice="hex")

    def build(c):
        # each level is committed (checkpointed) as it is built; count reads them
        tree = build_tree(docs, c)
        tree.count()
        return tree

    timings: dict[str, float] = {}
    timings["tree_build"], tree = timed(spark, "tree_build", lambda: build(cfg))
    timings["tree_build_hex"], _ = timed(spark, "tree_build_hex", lambda: build(hex_cfg))
    latency = retrieve_latency(spark, tree)
    timings["interactive_retrieve"] = latency["p50_s"]
    delta = docs.limit(max(n_docs // 100, 50)).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    timings["incremental_update"], _ = timed(
        spark, "incremental_update", lambda: update_tree(tree, delta, cfg).count()
    )
    for name in timings:
        log(f"{'-':<8} {name}: {timings[name]} s")

    con = oracle_views(sf_dir)
    checks: dict[str, str] = {}
    for name in LEGS:
        wall, checks[name], _ = run_leg(spark, name, sf_dir, con)
        if wall is not None:
            timings[name] = wall
        log(f"{checks[name]:<8} {name}: {wall} s")
    marginal = marginal_scaling(spark, sf_dir, cpus, checks)

    build_s = timings["tree_build"]
    print(
        json.dumps(
            {
                "metric": "registry timer: tree build/update, interactive retrieve and "
                "oracle-checked registry legs (min of 3 runs each)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "checks": checks,
                "sf": sf,
                "cpus": cpus,
                "n_docs": n_docs,
                "n_tree_nodes": tree.count(),
                "pages_per_sec": round(n_docs / build_s, 2) if build_s else None,
                "retrieve_latency": latency,
                "marginal_scaling": marginal,
            }
        )
    )
    return int(any(s.startswith("FAIL") for s in checks.values()))


if __name__ == "__main__":
    raise SystemExit(main())
