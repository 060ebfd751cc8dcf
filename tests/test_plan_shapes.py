"""Physical-plan assertions — the scale properties SURVEY.md §4 promises must
be visible in `.explain`, not just claimed in docstrings:

- column pruning: metadata-only queries never read the binary payload column;
- predicate pushdown: row filters reach the parquet scan (PushedFilters);
- broadcast joins: the tiny query side of every kNN join broadcasts (no
  shuffle of the node corpus onto query keys);
- map-side combine: hash aggregations run partial-then-final;
- whole-stage codegen: the JVM expression pipelines (text analysis, cells)
  compile into codegen spans rather than interpreted rows.

A plan regression here (e.g. an accidental UDF breaking codegen, or a join
flipping to sort-merge over the corpus) is a 100-TB incident that small-scale
row-count tests cannot catch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def pages_pq(spark, tmp_path_factory):
    from raptor_rag_spark.sources.pages import generate_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    generate_pages(spark, 64, partitions=4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def tiny_tree_df(spark, pages_pq):
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    cfg = ClusterTreeConfig(max_tokens=48, num_layers=2, max_resolution=6)
    return build_tree(docs, cfg).cache()


@pytest.fixture(scope="module")
def tiny_queries_df(spark):
    from raptor_rag_spark.operators.core import with_embedding

    qdf = spark.createDataFrame(
        [(0, "spark joins data"), (1, "tiles roll up")], "query_id long, qtext string"
    )
    return with_embedding(qdf, "qtext").select(
        "query_id", F.col("embedding").alias("q_embedding")
    ).cache()


def test_binary_column_pruned(spark, pages_pq):
    """A metadata-only projection must not scan the html BINARY payload."""
    df = spark.read.parquet(pages_pq).select("url", "lang", F.length("text").alias("n"))
    plan = explain_str(df)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    assert "html" not in scan_schema[0], scan_schema[0]
    assert "url" in scan_schema[0]


def test_filter_pushed_to_scan(spark, pages_pq):
    df = spark.read.parquet(pages_pq).filter(F.col("lang") == "en").select("url")
    plan = explain_str(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0], plan


def test_collapsed_knn_broadcasts_queries(spark, tiny_tree_df, tiny_queries_df):
    from raptor_rag_spark.operators.knn import collapsed_knn

    plan = explain_str(collapsed_knn(tiny_tree_df, tiny_queries_df, top_k=3))
    # the query matrix travels with the kernel function: no join crosses
    # queries with nodes, and the node frame never shuffles onto query keys
    assert "MapInPandas" in plan, plan
    for join in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan


def test_cell_pruned_knn_broadcasts_candidates(spark, tiny_tree_df, tiny_queries_df):
    from raptor_rag_spark.operators.knn import cell_pruned_knn

    levels = [r["level"] for r in tiny_tree_df.select("level").distinct().collect()]
    res = {lv: max(8 - lv, 0) for lv in levels}
    plan = explain_str(cell_pruned_knn(tiny_tree_df, tiny_queries_df, res, top_k=3))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # the node corpus must never shuffle onto query keys
    assert "SortMergeJoin" not in plan, plan


def test_exact_dedup_partial_aggregation(spark, pages_pq):
    from raptor_rag_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    plan = explain_str(exact_dedup(docs))
    # partial (map-side combine) + final pair on the fingerprint groupBy
    assert plan.count("HashAggregate") >= 2, plan


def test_text_analysis_stays_in_codegen(spark, pages_pq):
    from raptor_rag_spark.operators.textops import token_counts

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    plan = explain_str(token_counts(docs), "simple")
    # '*(n)' prefixes mark whole-stage-codegen spans in simple mode
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_leaf_pipeline_single_python_pass(spark, pages_pq):
    """Chunk, embed, xy projection and node ids are ONE fused Arrow round
    trip; everything after it (cells, token counts) must be JVM expressions
    — exactly one Python eval node."""
    from raptor_rag_spark.operators.core import leaf_nodes

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    plan = explain_str(leaf_nodes(docs, "doc_id", "text", 64, 8), "simple")
    n_python = sum(
        plan.count(tag)
        for tag in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
    )
    assert n_python == 1, plan


def test_parent_level_gathers_members_on_cell_and_salt(spark, pages_pq):
    """Over the broadcast bound (pinned to -1 here), the member gather of a
    tree level shuffles on (parent_cell, salt), so a hot cell's salt buckets
    hash to different tasks; only the tiny per-cell salt map is aggregated
    on parent_cell alone and broadcast."""
    import re

    from conftest import spark_plan_only

    from raptor_rag_spark.operators.core import leaf_nodes
    from raptor_rag_spark.operators.rollup import build_parent_nodes

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    with spark_plan_only(spark):
        parents = build_parent_nodes(leaf_nodes(docs, "doc_id", "text", 64, 8), 1)
    plan = explain_str(parents, "simple")
    assert re.search(r"Exchange hashpartitioning\(parent_cell#\d+L, salt#\d+, ", plan), plan
    assert "BroadcastExchange" in plan, plan


def test_small_parent_level_runs_in_one_task_without_exchange(spark, pages_pq):
    """Under the broadcast bound a tree level is gathered and summarized in
    one task: one MapInPandas over a coalesced scan, no Exchange of any
    kind (no salt-map broadcast, no member shuffle)."""
    from raptor_rag_spark.operators.core import leaf_nodes
    from raptor_rag_spark.operators.rollup import build_parent_nodes

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    leaves = leaf_nodes(docs, "doc_id", "text", 64, 8).localCheckpoint(eager=True)
    parents = build_parent_nodes(leaves, 1)
    plan = explain_str(parents, "simple")
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1 and "Coalesce 1" in plan, plan
    assert parents.rdd.getNumPartitions() == 1


def test_phrase_search_broadcasts_phrases(spark, pages_pq):
    """The phrase side must broadcast; the corpus postings must never
    shuffle onto phrase keys via sort-merge."""
    from raptor_rag_spark.operators.phrases import phrase_search

    docs = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
    )
    phrases = spark.createDataFrame(
        [(0, "subscribe newsletter")], "phrase_id INT, qtext STRING"
    )
    plan = explain_str(phrase_search(docs, phrases))
    assert "BroadcastHashJoin" in plan, plan
    # the html payload is never read for text-only work
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all("html" not in s for s in scans), scans


def test_line_dedup_no_cartesian_and_pruned(spark, pages_pq):
    from raptor_rag_spark.operators.curation import line_dedup

    pages = spark.read.parquet(pages_pq)
    plan = explain_str(line_dedup(pages))
    assert "CartesianProduct" not in plan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all("html" not in s for s in scans), scans


def test_pii_scrub_single_codegen_map(spark, pages_pq):
    """pii_scrub is a pure map: no Exchange at all in its plan."""
    from raptor_rag_spark.operators.curation import pii_scrub

    plan = explain_str(pii_scrub(spark.read.parquet(pages_pq)))
    assert "Exchange" not in plan, plan
    assert "codegen id" in plan, plan


def test_merge_upsert_is_single_join(spark, pages_pq):
    from raptor_rag_spark.operators.merge import merge_upsert

    pages = spark.read.parquet(pages_pq).select("url", "lang")
    upd = pages.limit(10)
    plan = explain_str(merge_upsert(pages, upd, ["url"], ["lang"]))
    # exactly one join operator (the full-outer merge), no window, no agg
    joins = [l for l in plan.splitlines() if "SortMergeJoin" in l or "HashJoin" in l]
    assert len([l for l in joins if "FullOuter" in l]) == 1, plan
    assert "Window" not in plan


def test_hll_single_small_aggregation(spark, pages_pq):
    """The HLL register build must partial-aggregate map-side (256 groups)."""
    from raptor_rag_spark.operators.sketches import hll_distinct

    plan = explain_str(hll_distinct(spark.read.parquet(pages_pq).select("url"), "url"))
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_pure_map(spark, pages_pq):
    from raptor_rag_spark.operators.layout import zorder_layout

    pts = spark.read.parquet(pages_pq).select(
        F.abs(F.hash("url")).cast("long").alias("vec_id"),
        (F.abs(F.hash("url", "lang")) % 1000 / 1000.0).alias("x"),
        (F.abs(F.hash("lang", "url")) % 1000 / 1000.0).alias("y"),
    )
    plan = explain_str(zorder_layout(pts, res=6, bucket_bits=4))
    assert "Exchange" not in plan, plan
    assert "codegen id" in plan, plan


def test_bucketed_join_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the same key join with ZERO Exchange — the
    write-once shuffle that makes big-big joins co-located at 100 TB."""
    from raptor_rag_spark.sources.bucketed import bucketed_join, save_bucketed

    base = tmp_path_factory.mktemp("buckets")
    a = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("w")
    )
    save_bucketed(a, "ps_bucket_a", "doc_id", buckets=8, path=str(base / "a"))
    save_bucketed(b, "ps_bucket_b", "doc_id", buckets=8, path=str(base / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "ps_bucket_a", "ps_bucket_b", "doc_id")
        plan = explain_str(j)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ps_bucket_a")
        spark.sql("DROP TABLE IF EXISTS ps_bucket_b")


def test_hex_assign_zero_exchange(spark):
    """Hex assignment (cube rounding + integer parents) is a pure map — no
    Exchange, no Python, one codegen span over the scan."""
    from raptor_rag_spark.operators.hexgrid import hex_assign

    pts = spark.range(500).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 97 / 97.0).alias("x"),
        (F.col("id") % 89 / 89.0).alias("y"),
    )
    plan = explain_str(hex_assign(pts, res=6))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_hex_density_single_data_shuffle(spark):
    """The point set shuffles ONCE (partial->final hash agg on hex coords);
    the 7x ring fan-out regroups occupied-hex metadata, not points."""
    from raptor_rag_spark.operators.hexgrid import hex_density

    pts = spark.range(500).select(
        (F.col("id") % 97 / 97.0).alias("x"), (F.col("id") % 89 / 89.0).alias("y")
    )
    plan = explain_str(hex_density(pts, res=5))
    # formatted mode names each node twice (tree + details)
    assert plan.count("Exchange (") == 2, plan  # points->hex agg, hex->ring agg
    assert "partial_count" in plan or "Partial" in plan, plan


def test_s2_cells_no_shuffle_no_python(spark):
    """S2 cells: trig chart + Hilbert walk stays JVM-side with no Exchange
    (the only barrier is a narrow localCheckpoint, which is not a shuffle)."""
    from raptor_rag_spark.operators.s2 import s2_cells

    pts = spark.range(200).select(
        F.col("id").alias("vec_id"),
        ((F.col("id") % 97 / 97.0 - 0.5) * 6.283).alias("lon"),
        ((F.col("id") % 89 / 89.0 - 0.5) * 3.141).alias("lat"),
    )
    df = s2_cells(pts, res=8)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # and planning is sane: the fix for the CollapseProject blowup keeps the
    # physical plan string far below the multi-megabyte pathological case
    assert len(plan) < 400_000, len(plan)


def test_winnow_codegen_not_interpreted(spark):
    """Winnowing must run the k-gram hash in codegen rows (posexplode), not
    inside a higher-order-function lambda (interpreted per element)."""
    from raptor_rag_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], "doc_id long, text string"
    )
    plan = explain_str(winnow_fingerprints(docs))
    low = plan.lower()
    # the md5 hash chain must live in a codegen Project row, never inside a
    # higher-order-function lambda body (those evaluate interpreted)
    assert "md5" in low, plan
    for i in range(len(low)):
        if low.startswith("lambdafunction", i):
            assert "md5" not in low[i : i + 300], plan
    assert "Window" in plan, plan


def test_path_rollup_single_aggregation(spark, pages_pq):
    """URL path pyramid: constant fan-out explode + ONE partial/final agg."""
    from raptor_rag_spark.operators.webops import path_rollup

    pages = spark.read.parquet(pages_pq)
    plan = explain_str(path_rollup(pages))
    assert plan.count("Exchange (") == 1, plan
    assert "Generate" in plan, plan  # the explode


def test_global_window_registry_every_site_bounded():
    """Round-3 verdict task #5: every unpartitioned window
    (`Window.orderBy` with no partitionBy) in the package must have a
    documented metadata-scale bound. This registry IS that documentation —
    a new global window anywhere in raptor_rag_spark (outside
    plans/contract.py, whose twins mirror operator plans) fails this test
    until it is registered here with its bound.

    Bound classes:
    - topk:   `.orderBy(...).limit(k)` runs FIRST (TakeOrderedAndProject =
              per-partition partial top-k + driver merge); the global rank
              window then touches ≤ k rows.
    - bucket: cumulative offsets over value/hash BUCKET aggregates — frame
              rows = bucket count (fixed small), the distributed-rank idiom.
    - cells:  frame rows = occupied grid cells ≤ 4^res (corpus already
              reduced by one groupBy).
    - hosts:  dense-id assignment over the host table — |hosts| ≪ |pages|;
              the host graph itself is the operator's declared metadata.
    - fixed:  frame rows bounded by an operator constant (weeks, n_boot
              resamples, k seeds, top-2 categories, quantile picks).
    """
    import re
    from pathlib import Path

    pkg = Path("/root/repo/raptor_rag_spark")
    REGISTRY = {
        # file -> list of (ordered) bound classes, one per Window.orderBy site
        "operators/drift.py": [
            "fixed",   # :57  lead over distinct WEEKS (bounded calendar axis)
            "bucket",  # :260 host_gini rank offsets over DISTINCT page-count values
            "topk",    # :339 term_burstiness — limit(top_k) before rank
            "topk",    # :743 host_mad_anomaly — limit(top_k) before rank
            "fixed",   # seasonal_decompose trend over the daily calendar axis
            "fixed",   # psi_drift week pairing over the distinct-week list
            "bucket",  # lorenz_curve cumulative over distinct count values
        ],
        "operators/geohash.py": ["topk"],      # :102 limit(top_k) before rank
        "operators/graph.py": [
            "hosts",   # dense-id assignment over host table (5 sites)
            "hosts", "hosts", "hosts", "hosts",
            "topk",    # robustness_curve hub rank — limit(kmax) before rank
        ],
        "operators/keywords.py": [
            "topk",    # :98 textrank — limit(top_k) before rank
            "topk",    # rake_keywords — limit(top_k) before rank
        ],
        "operators/kmeans.py": ["fixed"] * 2,  # k seed rows (limit(k) first)
        "operators/layout.py": ["bucket"],     # :335 hilbert offsets over value buckets
        "operators/olap.py": ["topk"],         # :86 events_moving_avg — limit before rank
        "operators/pointpattern.py": [
            "topk",    # :271 radius_gyration — limit(top_k) before rank
            "cells",   # :359 quadrat quantile picks over occupied cells
            "fixed",   # :458 segregation top-2 categories
        ],
        "operators/sampling.py": [
            "bucket",  # :153 weighted-sample offsets over probability buckets
            "bucket",  # :262 shard offsets over value buckets
            "fixed",   # :353 bootstrap rank over n_boot (=64) resample means
            "bucket",  # sequence_pack offsets over doc_id-range buckets
        ],
        "operators/scanstat.py": [
            "cells",   # :155 spatial scan rank over (center cell, stencil d)
            "cells",   # :359 space-time scan rank over (cell, d, w) cylinders
        ],
        "operators/sketches.py": [
            "topk",    # :179 cms heavy terms — limit first
            "bucket",  # dd_quantiles cumulative walk over DDSketch buckets
        ],
        "operators/spacetime.py": [
            "topk",    # :560 od_matrix — limit(top_k) before rank
            "topk",    # :817 gap_burstiness — limit(top_k) before rank
        ],
        "operators/stats.py": [
            "bucket",  # :622 kdist rank offsets over value buckets
            "fixed",   # :650 kneedle knee pick over quantile-pick rows
            "bucket",  # kaplan_meier risk counts over distinct durations
            "bucket",  # kaplan_meier survival product over death times
            "bucket",  # ks_two_sample ECDF over pooled distinct values
            "bucket",  # mann_whitney cum counts over pooled distinct values
            "bucket",  # spearman midranks over distinct values (shared helper)
        ],
        "operators/textops.py": [
            "topk",    # :171 PMI collocations — limit first
            "bucket",  # vocab_growth cumulative over doc-bucket metadata
        ],
        "operators/webops.py": [
            "bucket",  # :273 frontier slot offsets (bounded by deepest host queue)
            "topk",    # :412 term_bursts — limit(top_k) before rank
        ],
    }
    pat = re.compile(r"Window\.orderBy\(")
    found = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        if rel in ("plans/contract.py", "plans/contract_spatial.py"):
            continue  # oracle twins mirror the operator plans audited above
            # (contract_spatial is the round-5 pure move of contract.py's
            # spatial block — same exclusion rationale, its 3 sites are the
            # twin-side mirrors of operator sites already registered here)
        n = len(pat.findall(py.read_text()))
        if n:
            found[rel] = n
    want = {f: len(v) for f, v in REGISTRY.items()}
    assert found == want, (
        "global-window sites drifted from the audited registry; "
        f"found={found} registered={want} — add/remove the site's bound above"
    )


def test_gazetteer_match_broadcasts_dictionary(spark):
    """The dictionary side must broadcast (per-length slices), and the
    corpus is tokenized once — no shuffle of the token stream per phrase."""
    from raptor_rag_spark.operators.phrases import gazetteer_match

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(10)],
        "doc_id long, text string",
    )
    gaz = spark.createDataFrame(
        [("alpha", "x"), ("beta gamma", "y")], "phrase string, label string"
    )
    out = gazetteer_match(docs, gaz)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_attribution_linear_no_nested_loop(spark):
    """The trailing-window range join must plan as a bucketed equi-join."""
    from raptor_rag_spark.operators.asof import attribution_linear

    ev = spark.createDataFrame(
        [(i, i % 5, "click" if i % 3 else "purchase",
          f"2026-01-{1 + i % 27:02d} 10:00:00", float(i))
         for i in range(60)],
        "event_id long, user_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = attribution_linear(ev, window_s=86400)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert out.count() >= 0  # executes


def test_codegen_fallback_families_compile(tmp_path):
    """Round-4 verdict #1: the 18 queries that fell back to interpreted
    execution ("Code grows beyond 64 KB" in janino) must generate ZERO
    compile failures now that their trig/ln/projection trees are staged
    through projected columns (trig.append_atan/append_atan2/append_asin,
    sqlgen.append_ln, kernel SRP bits, narrow barriers).

    Compile failures are plan-shape properties (data-independent), so the
    check runs the whole family once at sf0.001 in ONE subprocess and greps
    its stderr for CodeGenerator errors — the same signal the full-sweep
    audit uses."""
    import subprocess
    import sys

    queries = [
        "geo_destination", "geo_waypoints", "geo_arc", "geo_bearing",
        "rhumb_line", "geo_poly_area", "hll_overlap", "hll_distinct",
        "hll_pyramid", "hyperball", "srp_pairs", "emb_neardup",
        "emb_dwithin", "hex_viewport", "sd_ellipse", "ripley_k",
        "dd_quantiles", "gwr_local",
    ]
    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from raptor_rag_spark.session import get_spark\n"
        "from raptor_rag_spark.plans import contract\n"
        "spark = get_spark('codegen-audit', cores=4)\n"
        f"for q in {queries!r}:\n"
        "    contract.QUERIES[q](spark, '/root/testdata/sf0.001').toPandas()\n"
        "print('AUDIT-DONE')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert "AUDIT-DONE" in proc.stdout, proc.stderr[-3000:]
    n_fail = proc.stderr.count("Failed to compile")
    assert n_fail == 0, (
        f"{n_fail} codegen compile failures:\n"
        + "\n".join(
            ln for ln in proc.stderr.splitlines() if "Compiling" in ln
        )[:3000]
    )


def test_shared_stats_rankers_join_no_stats_frame(spark):
    """With index_stats passed via shared=, the corpus scalars are literals:
    neither BM25 nor QL nested-loop-joins a 1-row statistics frame, and QL
    takes collection frequency from the statistics' term table instead of
    aggregating the postings by term."""
    from raptor_rag_spark.operators.ranking import bm25_index, bm25_rank, index_stats, ql_rank

    docs = spark.createDataFrame(
        [(1, "spark joins data"), (2, "tiles roll up data"), (3, "spark tiles")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(0, "spark data"), (1, "tiles")], "query_id long, qtext string")
    shared = index_stats(bm25_index(docs))
    bm25 = explain_str(bm25_rank(None, qs, max_df_ratio=(9, 10), shared=shared))
    ql = explain_str(ql_rank(None, qs, shared=shared))
    for plan in (bm25, ql):
        assert "BroadcastNestedLoopJoin" not in plan, plan
    # the postings' own aggregate (doc_id, term) is still there
    assert "Keys [2]: [doc_id#" in ql, ql
    assert "Keys [1]: [term#" not in ql, ql
