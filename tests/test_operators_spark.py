"""Spark-layer operator tests: kernel parity, determinism, invariants.

Marked ``spark`` (session fixture, local[4]). Data: small slices of the
driver testdata at sf0.001 — never synthesized ad hoc, per TESTDATA.md.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.functions import sqlgen as G
from raptor_rag_spark.kernels import textstats as T
from raptor_rag_spark.kernels.distances import distance_matrix
from raptor_rag_spark.kernels.embedder import embed_texts
from raptor_rag_spark.kernels.grid import point_in_polygon, soft_cell_assign
from raptor_rag_spark.kernels.reduce import project_xy
from raptor_rag_spark.operators.core import leaf_nodes, with_embedding
from raptor_rag_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    simhash_fingerprints,
)
from raptor_rag_spark.operators.knn import collapsed_knn
from raptor_rag_spark.operators.pipjoin import pip_join, soft_assignments
from raptor_rag_spark.operators.textops import language_id, quality_scores, token_counts

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 60").cache()


@pytest.fixture(scope="module")
def leaves(spark, docs):
    return leaf_nodes(docs, max_tokens=64, res=6).cache()


def test_leaf_schema_and_counts(leaves, docs):
    assert set(leaves.columns) == {
        "node_id", "level", "cell_id", "url", "chunk_idx", "text",
        "embedding", "x", "y", "children", "token_count", "n_leaves",
    }
    assert leaves.count() >= docs.count()  # every doc yields ≥1 chunk
    assert leaves.filter("level != 0").count() == 0
    assert leaves.select("node_id").distinct().count() == leaves.count()


def test_leaf_partition_invariance(docs):
    cols = ["node_id", "cell_id", "token_count", "x", "y"]
    a = leaf_nodes(docs, max_tokens=64, res=6)
    b = leaf_nodes(docs.repartition(16), max_tokens=64, res=6)
    pa = a.select(*cols).toPandas().sort_values("node_id").reset_index(drop=True)
    pb = b.select(*cols).toPandas().sort_values("node_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb, check_exact=True)


def assert_leaf_twins(leaves, dim=64):
    """The leaves' x, y and node_id, made in the Arrow batch, equal
    ``sqlgen.xy_cols`` over the stored embedding column and ``hash63_col``
    over ``concat_ws(":", doc id, chunk_idx)``, bit for bit. Returns the
    row count."""
    x, y = G.xy_cols(F.col("embedding"), dim)
    nid = G.hash63_col(F.concat_ws(":", F.col("url"), F.col("chunk_idx")))
    rows = leaves.select(
        "node_id", "x", "y", nid.alias("s_id"), x.alias("s_x"), y.alias("s_y")
    ).collect()
    for mine, twin in (("node_id", "s_id"), ("x", "s_x"), ("y", "s_y")):
        got = np.array([r[mine] for r in rows])
        want = np.array([r[twin] for r in rows])
        assert got.dtype == want.dtype and np.array_equal(got.view(np.int64), want.view(np.int64)), mine
    return len(rows)


def test_leaf_embeddings_match_kernel(leaves):
    rows = leaves.select("text", "embedding", "x", "y").limit(20).collect()
    texts = [r["text"] for r in rows]
    kern = embed_texts(texts)
    for r, k in zip(rows, kern):
        assert np.allclose(np.array(r["embedding"], dtype=np.float32), k, atol=0)
    xy = project_xy(kern)
    got = np.array([[r["x"], r["y"]] for r in rows])
    assert np.array_equal(xy, got)
    assert assert_leaf_twins(leaves) == leaves.count()


def test_leaf_twins_wide_multi_model_and_empty_batch(spark, docs):
    """A 128-wide float64 cluster model in a multi-model map: the batch
    rounds to the stored float32 and reads the first 64 entries, as the
    Spark fold over the stored column does. A batch whose documents give
    no chunk yields no rows; a null doc id hashes as concat_ws skips it."""
    from raptor_rag_spark.kernels.embedder import BaseEmbeddingModel, HashNgramEmbeddingModel

    class Wide(BaseEmbeddingModel):  # float64 entries float32 cannot hold
        def embed_batch(self, texts):
            return embed_texts(texts, 128).astype(np.float64) / 3.0

    models = {"default": HashNgramEmbeddingModel(), "wide": Wide()}
    multi = leaf_nodes(docs.filter("doc_id < 20"), max_tokens=64, res=6, models=models, cluster_model="wide")
    assert multi.select(F.size("embedding")).distinct().collect()[0][0] == 128
    assert assert_leaf_twins(multi) > 0

    odd = spark.createDataFrame(
        [(1, ""), (2, None), (None, "one short sentence.")], "doc_id long, text string"
    )
    assert assert_leaf_twins(leaf_nodes(odd.filter("doc_id IS NOT NULL"), max_tokens=64, res=6)) == 0
    null_id = leaf_nodes(odd.filter("doc_id IS NULL"), max_tokens=64, res=6)
    assert assert_leaf_twins(null_id) == 1
    assert null_id.first()["node_id"] == T.portable_hash63("0")


def test_collapsed_knn_matches_kernel(spark, leaves):
    qtexts = ["spark join merge sort", "customer order data"]
    queries = with_embedding(
        spark.createDataFrame([(i, t) for i, t in enumerate(qtexts)], "query_id long, qtext string"),
        "qtext",
    ).select("query_id", F.col("embedding").alias("q_embedding"))
    got = collapsed_knn(leaves, queries, top_k=5, max_tokens=None).toPandas()

    node_rows = leaves.select("node_id", "embedding", "token_count").collect()
    node_rows.sort(key=lambda r: r["node_id"])
    mat = np.array([r["embedding"] for r in node_rows], dtype=np.float64)
    for qid, qtext in enumerate(qtexts):
        q = embed_texts([qtext])[0].astype(np.float64)
        dists = distance_matrix(q, mat, "cosine")
        order = np.lexsort(([r["node_id"] for r in node_rows], dists))[:5]
        expect = [node_rows[i]["node_id"] for i in order]
        mine = got[got.query_id == qid].sort_values("rank")
        assert mine["node_id"].tolist() == expect
        assert np.array_equal(mine["dist"].to_numpy(), dists[order])  # bit for bit


METRICS = ["cosine", "L1", "L2", "Linf"]


def kernel_fixture(spark):
    """Nine 128-wide float32 nodes in a multi-model map (the kernel reads
    ``embeddings['m']``, first 64 entries): two duplicate vectors (a tie), a
    zero vector and a NULL one; node ids out of row order; two queries, one
    equal to a node. Returns (nodes frame, queries frame, DuckDB connection
    with tables n(node_id, e, token_count) and q(query_id, q), the query
    and node vectors)."""
    import duckdb

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((9, 128)).astype(np.float32)
    vecs[1] = vecs[0]
    vecs[2] = 0.0
    qs = np.stack([rng.standard_normal(128).astype(np.float32), vecs[4]])
    ids = [70, 30, 50, 10, 90, 20, 80, 40, 60]
    toks = [12, 7, 30, 5, 18, 9, 25, 14, 3]
    m = [v.tolist() for v in vecs]
    m[5] = None
    rows = [(i, {"alt": (-v).tolist(), "m": e}, t) for i, v, e, t in zip(ids, vecs, m, toks)]
    nodes = spark.createDataFrame(
        rows, "node_id long, embeddings map<string, array<float>>, token_count int"
    )
    queries = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(qs)], "query_id long, q_embedding array<float>"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE n (node_id BIGINT, e FLOAT[], token_count INT)")
    con.executemany("INSERT INTO n VALUES (?, ?, ?)", list(zip(ids, m, toks)))
    con.execute("CREATE TABLE q (query_id BIGINT, q FLOAT[])")
    con.executemany("INSERT INTO q VALUES (?, ?)", [(i, q.tolist()) for i, q in enumerate(qs)])
    return nodes, queries, con, qs, vecs


@pytest.mark.parametrize("metric", METRICS)
def test_distance_matrix_is_dist_expr_cols_bit_for_bit(spark, metric):
    """The numpy kernel is the DuckDB twin's fold, so they agree bit for
    bit: 128-wide vectors (all read the first 64 entries), a duplicate
    vector (a tie) and a zero vector, one query and a (Q, d) block. The
    Spark operator ``exact_topk`` (reading a multi-model map key) gives the
    same bits. The zero vector's cosine distance is 1.0, with ANSI on. A
    NULL vector stays a NULL distance on Spark and DuckDB (NaN in, NaN out
    in numpy)."""
    from raptor_rag_spark.operators.knn import exact_topk

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    nodes, queries, con, qs, vecs = kernel_fixture(spark)
    sql = f"""SELECT query_id, node_id, {G.dist_sql('q', 'e', 64, metric)} AS d
              FROM q, n ORDER BY query_id, node_id"""
    duck = {(a, b): d for a, b, d in con.execute(sql).fetchall()}
    got = exact_topk(nodes, queries, "m", metric=metric, top_k=len(vecs)).collect()
    assert {(r["query_id"], r["node_id"]): r["dist"] for r in got} == duck
    ids = [70, 30, 50, 10, 90, 20, 80, 40, 60]
    block = distance_matrix(qs, vecs, metric, 64)
    for j, q in enumerate(qs):
        mine = distance_matrix(q, vecs, metric, 64)
        assert np.array_equal(mine, block[j])
        want = [duck[(j, i)] for i in ids]
        assert want[5] is None
        assert np.array_equal(np.delete(mine, 5), np.delete(np.array(want, dtype=float), 5))
        assert mine[0] == mine[1]
        if metric == "cosine":
            assert mine[2] == 1.0
    assert np.isnan(distance_matrix(qs[0], np.full(128, np.nan), metric, 64)).all()


def ranked_by_duckdb(con, metric, top_k=None, max_tokens=None, threshold=None):
    """The expected selection, ranked in Python over DuckDB's distances:
    (dist, node_id) order with NULLs first, then the cut."""
    sql = f"SELECT query_id, node_id, token_count, {G.dist_sql('q', 'e', 64, metric)} FROM q, n"
    by_q = {}
    for qid, nid, tok, d in con.execute(sql).fetchall():
        by_q.setdefault(qid, []).append((d is not None, d or 0.0, nid, tok, d))
    out = []
    for qid, rows in by_q.items():
        rows.sort()
        if threshold is not None:
            rows = [r for r in rows if r[4] is not None and r[4] > threshold]
        if top_k is not None:
            rows = rows[:top_k]
        if max_tokens is not None:
            rows = [r for r, c in zip(rows, np.cumsum([r[3] for r in rows])) if c <= max_tokens]
        out += [(qid, r[2], rank, r[4]) for rank, r in enumerate(rows, 1)]
    return sorted(out)


@pytest.mark.parametrize("metric", METRICS)
def test_exact_topk_pre_limit_rules(spark, metric):
    """Every cut of the kernel operator equals a global ranking of DuckDB's
    distances: ties between duplicate vectors broken by node id, the zero
    vector, a NULL map entry ranked first, and each pre-limit rule (top_k,
    budget-only, both, threshold) — binding in one partition, merged across
    three, and with more partitions than nodes (empty ones)."""
    from raptor_rag_spark.operators.knn import exact_topk

    nodes, queries, con, _, _ = kernel_fixture(spark)
    thr = float(np.median([d for (d,) in con.execute(
        f"SELECT {G.dist_sql('q', 'e', 64, metric)} FROM q, n WHERE e IS NOT NULL").fetchall()]))
    for parts in (nodes.coalesce(1), nodes.repartition(3), nodes.repartition(16)):
        for cut in (dict(top_k=4), dict(max_tokens=40), dict(top_k=6, max_tokens=50), dict(threshold=thr)):
            got = exact_topk(parts, queries, "m", metric=metric, **cut)
            rows = sorted(tuple(r)[:4] for r in got.collect())
            assert rows == ranked_by_duckdb(con, metric, **cut), cut


def test_exact_topk_chunks_query_matrix(spark, leaves, monkeypatch):
    """More queries than one distance block holds: the partition kernel
    scores them chunk by chunk and gives the per-query ranking of one
    numpy block."""
    from raptor_rag_spark.kernels import topk
    from raptor_rag_spark.operators.knn import exact_topk

    rows = leaves.select("node_id", "embedding").collect()
    ids = np.array([r["node_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(5)
    qs = rng.standard_normal((topk.BLOCK // len(rows) + 40, 64)).astype(np.float32)
    queries = pd.DataFrame({"query_id": np.arange(len(qs)), "q_embedding": list(qs)})
    got = exact_topk(leaves.coalesce(1), queries, top_k=3).toPandas()
    want = []
    for j, d in enumerate(distance_matrix(qs, mat)):
        order = np.lexsort((ids, d))[:3]
        want += [(j, int(ids[i]), rank, d[i]) for rank, i in enumerate(order, 1)]
    mine = got[["query_id", "node_id", "rank", "dist"]].to_numpy(object).tolist()
    assert sorted(map(tuple, mine)) == sorted(want)
    # the same chunking on the driver, seven queries to a block
    monkeypatch.setattr(topk, "BLOCK", 7 * len(ids))
    qid, at, dist = topk.partition_topk(np.arange(len(qs)), qs, ids, mat, top_k=3)
    picked = zip(qid.tolist(), ids[at].tolist(), dist.tolist())
    assert sorted(picked) == sorted((a, b, d) for a, b, _, d in want)


def test_emb_topk_zero_vector_both_engines(spark):
    """The similarity search paths against their DuckDB oracles over
    embeddings with a zero vector (one of the queries) and a duplicate: the
    zero vector's cosine similarity is 0.0 on both engines (no
    DIVIDE_BY_ZERO on Spark, no NULL on DuckDB), ties rank by id, and the
    rounded-score pre-limit keeps every row that can rank ≤ k."""
    import duckdb
    import pyarrow as pa

    from raptor_rag_spark.operators.similarity import brute_force_topk, brute_force_topk_dist, ivf_topk
    from raptor_rag_spark.plans.contract import _sql_emb_ivf_topk, _sql_emb_topk, _sql_emb_topk_metric

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id < 80").toPandas()
    vecs = [np.asarray(v, dtype=np.float32) for v in emb["embedding"]]
    vecs[2] = np.zeros_like(vecs[2])
    vecs[7] = vecs[3]
    ids = emb["vec_id"].tolist()
    table = pa.table({"vec_id": ids, "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32()))})
    con = duckdb.connect()
    con.register("embeddings", table)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)], "vec_id long, embedding array<float>"
    ).repartition(3)
    queries = df.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cases = [
        (brute_force_topk(df, queries, k=5), _sql_emb_topk(5, 5)),
        (brute_force_topk_dist(df, queries, k=5, metric="L2"), _sql_emb_topk_metric("L2", 5, 5)),
        (ivf_topk(df, queries, k=5, res=3), _sql_emb_ivf_topk(5, 5, 3)),
    ]
    for got, sql in cases:
        mine = sorted(tuple(r) for r in got.collect())
        assert mine == sorted(con.execute(sql).fetchall()), sql[:60]
    zero = [r for r in brute_force_topk(df, queries, k=5).collect() if r["query_id"] == ids[2]]
    assert [r["cos_sim"] for r in zero] == [0.0] * 5
    assert [r["neighbor_id"] for r in zero] == sorted(ids)[:5]


def test_knn_token_budget(spark, leaves):
    queries = with_embedding(
        spark.createDataFrame([(0, "spark")], "query_id long, qtext string"), "qtext"
    ).select("query_id", F.col("embedding").alias("q_embedding"))
    res = collapsed_knn(leaves, queries, top_k=10, max_tokens=150).toPandas()
    assert res["token_count"].sum() <= 150
    full = collapsed_knn(leaves, queries, top_k=10, max_tokens=None).toPandas()
    assert len(full) == 10 >= len(res)


def test_soft_assignments_match_kernel(leaves):
    rows = leaves.select("node_id", "x", "y").limit(50).collect()
    df = leaves.limit(50)
    got = soft_assignments(df, res=4, buffer_frac=0.1).toPandas()
    xs = np.array([r["x"] for r in rows])
    ys = np.array([r["y"] for r in rows])
    buf = 0.1 / (1 << 4)
    expect = soft_cell_assign(xs, ys, 4, buf)
    for r, cells in zip(rows, expect):
        mine = sorted(got[got.node_id == r["node_id"]]["cell_id"].tolist())
        assert mine == sorted(cells.tolist()), f"node {r['node_id']}"


def test_soft_assignment_has_multi_membership(leaves):
    got = soft_assignments(leaves, res=4, buffer_frac=0.25).groupBy("node_id").count().toPandas()
    assert (got["count"] > 1).any()
    homes = soft_assignments(leaves, res=4, buffer_frac=0.25).filter("is_home").count()
    assert homes == leaves.count()  # exactly one home cell per node


def test_pip_join_matches_kernel(spark, leaves):
    polys = [
        (1, [[0.1, 0.1], [0.9, 0.1], [0.9, 0.9], [0.1, 0.9]]),
        (2, [[0.0, 0.0], [0.5, 0.0], [0.5, 0.5], [0.0, 0.5]]),
        (3, [[0.4, 0.4], [0.8, 0.3], [0.9, 0.8], [0.5, 0.7], [0.45, 0.6]]),
    ]
    pdf = spark.createDataFrame(polys, "cell_id long, ring array<array<double>>")
    pts = leaves.select("node_id", "x", "y")
    got = pip_join(pts, pdf).toPandas()
    rows = pts.collect()
    for pid, ring in polys:
        expect = {
            r["node_id"]
            for r in rows
            if point_in_polygon(np.array([r["x"]]), np.array([r["y"]]), np.array(ring))[0]
        }
        mine = set(got[got.cell_id == pid]["node_id"].tolist())
        assert mine == expect, f"poly {pid}"


def test_exact_dedup(spark):
    data = [(1, "Hello   World"), (2, "hello world"), (3, "unique text here")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = exact_dedup(df).toPandas().sort_values("canonical_doc_id").reset_index(drop=True)
    dup = out[out.n_dups > 1]
    assert len(dup) == 1 and dup.iloc[0]["canonical_doc_id"] == 1 and dup.iloc[0]["n_dups"] == 2


def test_minhash_matches_kernel(docs):
    got = minhash_signatures(docs.filter("doc_id < 10")).toPandas().sort_values("doc_id")
    texts = {r["doc_id"]: r["text"] for r in docs.filter("doc_id < 10").collect()}
    for _, row in got.iterrows():
        expect = T.minhash_signature(texts[row["doc_id"]])
        assert [row[f"h{i}"] for i in range(16)] == expect


def test_simhash_matches_kernel(docs):
    got = simhash_fingerprints(docs.filter("doc_id < 10")).toPandas()
    texts = {r["doc_id"]: r["text"] for r in docs.filter("doc_id < 10").collect()}
    for _, row in got.iterrows():
        assert int(row["simhash"]) == T.simhash(texts[row["doc_id"]])


def test_textops_match_kernels(docs):
    sample = docs.filter("doc_id < 10")
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    tc = token_counts(sample).toPandas()
    li = language_id(sample).toPandas()
    qs = quality_scores(sample).toPandas()
    from raptor_rag_spark.kernels.tokenizer import token_count

    for _, row in tc.iterrows():
        assert row["n_tokens"] == token_count(texts[row["doc_id"]])
    for _, row in li.iterrows():
        assert row["lang_guess"] == T.lang_id(texts[row["doc_id"]])
    for _, row in qs.iterrows():
        assert row["quality"] == pytest.approx(T.quality_score(texts[row["doc_id"]]), abs=1e-6)


def test_hash63_matches_kernel(spark):
    df = spark.createDataFrame([("abc",), ("xyz",), ("",)], "s string")
    got = df.select("s", G.hash63_col(F.col("s")).alias("h")).collect()
    for r in got:
        assert r["h"] == T.portable_hash63(r["s"])


def test_dedup_clusters_connected_components(spark):
    """Min-label propagation resolves chains and isolates correctly."""
    from raptor_rag_spark.operators.dedup import apply_dedup, dedup_clusters

    # components: {1,2,3,4} (a chain), {10,11}, and 20-20 untouched docs
    pairs = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["canonical_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    kept = sorted(r["doc_id"] for r in apply_dedup(docs, dedup_clusters(pairs)).collect())
    assert kept == [1, 10, 20]


def test_dedup_adaptive_res_rule():
    from raptor_rag_spark.operators.dedup import adaptive_res

    # 4^res * 64 >= n, clamped to [2, 10]
    assert adaptive_res(10) == 2
    assert adaptive_res(64 * 16) == 2
    assert adaptive_res(64 * 16 + 1) == 3
    assert adaptive_res(64 * 4**5) == 5
    assert adaptive_res(10**12) == 10


def test_minhash_band_bucket_cap(spark, docs):
    """A mass-duplicated doc set must not explode candidate pairs: with the
    bucket cap at its default, a 100x-duplicated text contributes no pairs
    (exact_dedup's job), while genuine small clusters still pair up."""
    from raptor_rag_spark.operators.dedup import minhash_band_pairs

    boiler = spark.range(200).select(
        (F.col("id") + 10_000).alias("doc_id"), F.lit("same boiler plate text here").alias("text")
    )
    mixed = docs.select("doc_id", "text").unionByName(boiler)
    pairs = minhash_band_pairs(mixed).collect()
    ids = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert not any(i >= 10_000 for i in ids), "capped bucket leaked quadratic pairs"
    # cap high enough that organic near-dups at this scale are unaffected
    base = minhash_band_pairs(docs).count()
    organic = [p for p in pairs if p["doc_a"] < 10_000 and p["doc_b"] < 10_000]
    assert len(organic) == base


def test_grid_knn_exact_vs_brute_force(spark):
    """Covering-radius guarantee: grid kNN == brute-force 2D top-k even for
    skewed point sets where the first ring is nearly empty."""
    import numpy as np

    from raptor_rag_spark.operators.knn import grid_knn

    rng = np.random.default_rng(7)
    # cluster far from the query + a sparse tail, to force ring widening
    xs = np.concatenate([rng.uniform(0.8, 0.9, 200), rng.uniform(0, 1, 20)])
    ys = np.concatenate([rng.uniform(0.8, 0.9, 200), rng.uniform(0, 1, 20)])
    pts = spark.createDataFrame(
        [(i, float(xs[i]), float(ys[i])) for i in range(len(xs))], "vec_id long, x double, y double"
    )
    queries = spark.createDataFrame([(0, 0.05, 0.05), (1, 0.85, 0.85)], "query_id long, x double, y double")
    got = grid_knn(pts, queries, res=5, k=7).collect()
    for qid, (qx, qy) in [(0, (0.05, 0.05)), (1, (0.85, 0.85))]:
        d = np.sqrt((xs - qx) ** 2 + (ys - qy) ** 2)
        order = np.lexsort((np.arange(len(xs)), d))
        expect = [int(i) for i in order[:7]]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert mine == expect


def test_cell_pruned_knn_returns_topk_in_sparse_grid(spark, leaves):
    """Ring widening + fallback: never fewer than top_k results per query
    when the tree has >= top_k nodes (the round-1 recall hole)."""
    from raptor_rag_spark.operators.knn import cell_pruned_knn

    queries = with_embedding(
        spark.createDataFrame([(0, "zzz unrelated corner text")], "query_id long, qtext string"),
        "qtext",
    ).select("query_id", F.col("embedding").alias("q_embedding"))
    out = cell_pruned_knn(leaves, queries, {0: 6}, top_k=10, max_tokens=None)
    assert out.count() == 10
def test_asof_join_semantics(spark):
    """Backward as-of: latest right ts' <= ts per key, inclusive at equal ts,
    NULL when no prior right row. Oracle cross-check: DuckDB native ASOF."""
    from raptor_rag_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100, 1.0), (1, 20, 101, 2.0), (2, 5, 102, 3.0)],
        "user_id long, t long, event_id long, value double",
    ).selectExpr("user_id", "timestamp_micros(t * 1000000) AS ts", "event_id", "value")
    right = spark.createDataFrame(
        [(1, 10, 200, 9.0), (1, 15, 201, 8.0), (1, 25, 202, 7.0), (3, 1, 203, 6.0)],
        "user_id long, t long, event_id long, value double",
    ).selectExpr("user_id", "timestamp_micros(t * 1000000) AS ts", "event_id", "value")

    rows = {
        r["event_id"]: (r["event_id_r"], r["value_r"])
        for r in asof_join(
            left, right, key="user_id", ts_col="ts",
            left_cols=("event_id", "value"), right_cols=("event_id", "value"),
        ).collect()
    }
    assert rows[100] == (200, 9.0)  # same-instant right row matches (inclusive)
    assert rows[101] == (201, 8.0)  # latest prior, not the later one
    assert rows[102] == (None, None)  # no right rows for key 2


def test_dwithin_join_exact_vs_bruteforce(spark):
    """Grid-pruned DWithin must equal the quadratic reference on random
    points, including pairs that straddle cell boundaries."""
    from raptor_rag_spark.operators.pipjoin import dwithin_join

    rng = np.random.default_rng(11)
    xy = rng.random((400, 2))
    # plant boundary-straddling near pairs around a cell edge (d=0.05 -> res 4,
    # cell size 1/16 = 0.0625; edge at 0.5)
    xy = np.vstack([xy, [[0.499, 0.3], [0.501, 0.3], [0.2, 0.4999], [0.2, 0.5001]]])
    d = 0.05
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "node_id long, x double, y double",
    )
    got = dwithin_join(pts, d=d).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))

    diff = xy[:, None, :] - xy[None, :, :]
    d2 = (diff**2).sum(axis=2)
    ii, jj = np.nonzero((d2 < d * d) & (np.arange(len(xy))[:, None] < np.arange(len(xy))[None, :]))
    assert pairs == set(zip(ii.tolist(), jj.tolist()))
    assert (302, 303) not in pairs  # sanity: planted pairs are the last four ids
    assert (400, 401) in pairs and (402, 403) in pairs


def test_interval_join_matches_naive_and_avoids_nested_loop(spark):
    """Bucketed interval-overlap join: exact vs the naive theta-join on a
    seeded interval set (spanning multiple buckets, touching endpoints,
    containment, disjoint), emitted once per pair; physical plan is a
    hash/merge equi-join on the bucket key, never BroadcastNestedLoop or
    cartesian."""
    from raptor_rag_spark.operators.asof import interval_join

    left = spark.createDataFrame(
        [(i, 1000 * i, 1000 * i + 1700 + 977 * (i % 7)) for i in range(60)],
        "l_id long, l_start long, l_end long",
    )
    right = spark.createDataFrame(
        [(j, 777 * j + 13, 777 * j + 13 + 350 + 131 * (j % 5)) for j in range(80)],
        "r_id long, r_start long, r_end long",
    )
    got = interval_join(left, right, bucket_s=900)
    want = left.join(
        right,
        (F.col("l_start") <= F.col("r_end")) & (F.col("r_start") <= F.col("l_end")),
    ).select(
        "l_id",
        "r_id",
        (
            F.least(F.col("l_end"), F.col("r_end"))
            - F.greatest(F.col("l_start"), F.col("r_start"))
        ).cast("long").alias("overlap_s"),
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 100
    # each pair exactly once
    assert len({(a, b) for a, b, _ in g}) == len(g)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_ddsketch_mergeable_and_within_alpha(spark):
    """DDSketch: (a) per-shard sketches merged by summing counts equal the
    single-pass sketch (the mergeability that makes it THE distributed
    quantile structure); (b) every quantile estimate is within the alpha
    relative-error bound of the exact quantile."""
    from raptor_rag_spark.operators.sketches import dd_quantiles, dd_sketch

    vals = spark.range(2000).select(
        (F.pmod(F.col("id") * 2654435761, F.lit(9973)) + 1).alias("v"),
        (F.col("id") % 4).alias("shard"),
    )
    alpha = 0.01
    direct = dd_sketch(vals, "v", alpha=alpha)
    merged = (
        dd_sketch(vals.where("shard = 0"), "v", alpha=alpha)
        .unionByName(dd_sketch(vals.where("shard = 1"), "v", alpha=alpha))
        .unionByName(dd_sketch(vals.where("shard = 2"), "v", alpha=alpha))
        .unionByName(dd_sketch(vals.where("shard = 3"), "v", alpha=alpha))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, merged.collect()))

    qs = (0.5, 0.9, 0.99)
    est = {r["q"]: r["est"] for r in dd_quantiles(direct, qs=qs, alpha=alpha).collect()}
    xs = sorted(r["v"] for r in vals.select("v").collect())
    for q in qs:
        exact = xs[int(q * (len(xs) - 1))]
        assert abs(est[q] - exact) <= alpha * exact * 1.001, (q, est[q], exact)
