"""RetrievalAugmentation facade tests — mirror the reference lifecycle
behaviors (raptor/retrieval_augmentation.py guards + retrieve shapes)."""

import pytest
from conftest import spark_plan_only
from pyspark.sql import functions as F

from raptor_rag_spark.api import RetrievalAugmentation
from raptor_rag_spark.config import ClusterTreeConfig

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def both_paths(spark, fn):
    """fn() with the driver-resident tree, then on the Spark plan."""
    resident = fn()
    with spark_plan_only(spark):
        return resident, fn()


@pytest.fixture(scope="module")
def ra(spark):
    r = RetrievalAugmentation(
        spark, config=ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=6)
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 40")
    r.add_documents(docs)
    return r


def test_retrieve_without_tree_raises(spark):
    r = RetrievalAugmentation(spark)
    with pytest.raises(ValueError, match="no trees to retrieve"):
        r.retrieve("question")


def test_bad_tree_arg_raises(spark):
    with pytest.raises(ValueError, match="tree must be"):
        RetrievalAugmentation(spark, tree=42)


def test_retrieve_returns_context_and_layers(ra):
    context, layers = ra.retrieve("spark join data", top_k=5)
    assert isinstance(context, str) and context.endswith("\n\n")
    assert 1 <= len(layers) <= 5
    assert {"node_index", "layer_number"} == set(layers[0])


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(top_k=5),
        dict(top_k=10, max_tokens=300),
        dict(top_k=None, max_tokens=500),
        dict(collapse_tree=False),
        dict(collapse_tree=False, start_layer=1, num_layers=2),
    ],
)
def test_resident_retrieve_matches_spark_plan(ra, spark, kwargs):
    """Single questions answered from the driver-resident tree give the
    Spark plan's context and layer list, byte for byte."""
    for q in ("spark join data", "customer order data", "shuffle partitions"):
        resident, planned = both_paths(spark, lambda: ra.retrieve(q, **kwargs))
        assert resident == planned, (q, kwargs)


def test_resident_threshold_traversal_matches_spark_plan(ra, spark):
    from raptor_rag_spark.config import TreeRetrieverConfig

    r = RetrievalAugmentation(
        spark, config=ra.config, tree=ra.tree,
        retriever_config=TreeRetrieverConfig(selection_mode="threshold", threshold=0.8),
    )
    resident, planned = both_paths(
        spark, lambda: r.retrieve("spark join data", collapse_tree=False)
    )
    assert resident == planned and resident[1]


@pytest.mark.parametrize("collapse_tree", [True, False])
def test_zero_vector_question_matches_spark_plan(ra, spark, collapse_tree):
    """A question that embeds to the zero vector is 1.0 from every node
    (the zero-norm rule), so both paths return the same context and layer
    list instead of raising DIVIDE_BY_ZERO."""
    from raptor_rag_spark.kernels.embedder import HashNgramEmbeddingModel

    for q in ("", "!!"):
        assert not any(HashNgramEmbeddingModel().create_embedding(q))
        resident, planned = both_paths(
            spark, lambda: ra.retrieve(q, collapse_tree=collapse_tree)
        )
        assert resident == planned and resident[1], (q, collapse_tree)


@pytest.mark.parametrize("max_tokens", [0, 1])
def test_empty_selection_returns_empty_context(ra, spark, max_tokens):
    """Nothing fits the budget: ("", []), or "" without layer information,
    as the reference's get_text of no nodes — on both paths."""
    for info, want in ((True, ("", [])), (False, "")):
        got = both_paths(
            spark,
            lambda: ra.retrieve(
                "spark join data", max_tokens=max_tokens, return_layer_information=info
            ),
        )
        assert got == (want, want)
    empty = RetrievalAugmentation(spark, config=ra.config, tree=ra.tree.filter("false"))
    assert both_paths(spark, lambda: empty.retrieve("spark join data")) == (("", []), ("", []))


def test_retrieve_batch_returns_dataframe(ra):
    out = ra.retrieve(["spark join", "customer data"], top_k=3)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1}


def test_traversal_mode(ra):
    context = ra.retrieve("spark join data", collapse_tree=False, return_layer_information=False)
    assert isinstance(context, str) and len(context) > 0


def test_answer_question_default_and_custom(ra):
    ans = ra.answer_question("spark join data")
    assert isinstance(ans, str) and len(ans) > 0
    ans2, layers = ra.answer_question(
        "spark join data", qa_fn=lambda c, q: f"Q={q}", return_layer_information=True
    )
    assert ans2 == "Q=spark join data"
    assert layers


def test_add_documents_string_and_overwrite_warn(spark, caplog):
    r = RetrievalAugmentation(
        spark, config=ClusterTreeConfig(max_tokens=32, num_layers=1, max_resolution=4)
    )
    r.add_documents("one two three. four five six. seven eight nine.")
    assert r.tree is not None and r.tree.count() >= 1
    import logging

    with caplog.at_level(logging.WARNING):
        r.add_documents("other text entirely. more text here.")
    assert any("Overwriting" in m for m in caplog.messages)


def test_save_and_reload(ra, tmp_path_factory, spark):
    from raptor_rag_spark.sources.checkpoint import TreeCheckpoint

    path = str(tmp_path_factory.mktemp("ra_save"))
    ra.save(path)
    ckpt = TreeCheckpoint(path)
    for lv in ckpt.committed_levels():
        m = ckpt.manifest(lv)
        assert m["schema"] and m["partitions"]
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
    r2 = RetrievalAugmentation(spark, tree=path)
    a = ra.tree.select("node_id").toPandas().sort_values("node_id").reset_index(drop=True)
    b = r2.tree.select("node_id").toPandas().sort_values("node_id").reset_index(drop=True)
    assert a.equals(b)
    for q in ("spark join data", "customer data"):
        assert r2.retrieve(q) == ra.retrieve(q)


def test_gmm_cluster_operator(spark):
    from raptor_rag_spark.operators.cluster import gmm_soft_cluster
    from raptor_rag_spark.functions import sqlgen as G

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    x, y = G.xy_cols(F.col("embedding"), 64)
    pts = e.select(
        F.col("vec_id").alias("node_id"), "embedding", G.cell_col(x, y, 1).alias("cell_id")
    )
    out = gmm_soft_cluster(pts, reduction_dimension=4).toPandas()
    # every node is assigned at least one cluster within its group
    n_nodes = pts.count()
    assert out[["group_key", "node_id"]].drop_duplicates().shape[0] == n_nodes
    assert (out["cluster_id"] >= 0).all()
    # determinism under repartition
    out2 = gmm_soft_cluster(pts.repartition(7), reduction_dimension=4).toPandas()
    key = ["group_key", "node_id", "cluster_id"]
    assert out.sort_values(key).reset_index(drop=True)[key].equals(
        out2.sort_values(key).reset_index(drop=True)[key]
    )


def test_multi_model_embeddings_build_and_route(spark):
    """Two-model build: nodes carry a per-model embeddings map, retrieval
    routed by context_embedding_model gives different deterministic results
    per model (reference tree_structures.py:9, retrieval_augmentation.py:56-64)."""
    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig, TreeRetrieverConfig
    from raptor_rag_spark.kernels.embedder import HashNgramEmbeddingModel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter("doc_id < 40")
    models = {"default": HashNgramEmbeddingModel(), "alt": HashNgramEmbeddingModel(seed="alt")}
    cfg = ClusterTreeConfig(
        max_tokens=64, num_layers=2, max_resolution=6, embedding_models=models
    )

    def run(ctx_model):
        ra = RetrievalAugmentation(
            spark,
            config=cfg,
            retriever_config=TreeRetrieverConfig(context_embedding_model=ctx_model),
        )
        ra.add_documents(docs)
        assert "embeddings" in ra.tree.columns
        row = ra.tree.filter("level = 0").select("embedding", "embeddings").first()
        assert list(row["embeddings"].keys()) and len(row["embeddings"]) == 2
        assert row["embedding"] == row["embeddings"]["default"]  # cluster model drives cells
        ask = lambda: ra.retrieve("customer order data", top_k=5, max_tokens=None)  # noqa: E731
        (ctx, info), planned = both_paths(spark, ask)
        assert (ctx, info) == planned  # the resident copy keeps the routed vector
        return ctx, tuple(sorted((d["node_index"], d["layer_number"]) for d in info))

    ctx_a, nodes_a = run("default")
    ctx_b, nodes_b = run("alt")
    ctx_a2, nodes_a2 = run("default")
    assert (ctx_a, nodes_a) == (ctx_a2, nodes_a2)  # deterministic
    assert nodes_a != nodes_b  # different model → different ranking


def test_missing_map_key_ranks_as_null_on_both_paths(ra, spark):
    """A node whose ``embeddings`` map lacks the context model's key has a
    NULL vector. Both paths rank it first (ties by id), where the Spark
    window ranks NULLs, and give the same contexts and layers; the driver
    copy reads every other vector in its own row."""
    from raptor_rag_spark.config import TreeRetrieverConfig
    from raptor_rag_spark.kernels.embedder import HashNgramEmbeddingModel

    cfg = ClusterTreeConfig(
        max_tokens=64, num_layers=2, max_resolution=6,
        embedding_models={"m": HashNgramEmbeddingModel()}, cluster_embedding_model="m",
    )
    has_key = F.col("node_id") % 7 != 0
    vec = lambda key: F.create_map(F.lit(key), F.col("embedding"))  # noqa: E731
    tree = ra.tree.withColumn("embeddings", F.when(has_key, vec("m")).otherwise(vec("x")))
    r = RetrievalAugmentation(
        spark, config=cfg, tree=tree,
        retriever_config=TreeRetrieverConfig(context_embedding_model="m"),
    )
    missing = sorted(x["node_id"] for x in tree.filter(~has_key).select("node_id").collect())
    assert missing
    for kwargs in (dict(top_k=5, max_tokens=None), dict(collapse_tree=False)):
        resident, planned = both_paths(spark, lambda: r.retrieve("spark join data", **kwargs))
        assert resident == planned, kwargs
    _, layers = resident
    collapsed = r.retrieve("spark join data", top_k=5, max_tokens=None)[1]
    assert [d["node_index"] for d in collapsed][: len(missing)] == missing[:5]
    assert layers


def test_integration_adapters(spark):
    """J7 adapters: result→node materialization join yields documents whose
    text matches the tree nodes, in selection order with rank-based scores."""
    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.integrations import LangChainRaptorRetriever, LlamaIndexRaptorRetriever

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter("doc_id < 30")
    ra = RetrievalAugmentation(
        spark, config=ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=6)
    )
    ra.add_documents(docs)

    lc = LangChainRaptorRetriever(ra, top_k=5).get_relevant_documents("customer order data")
    assert len(lc) == 5
    texts = {r["node_id"]: r["text"] for r in ra.tree.select("node_id", "text").collect()}
    for d in lc:
        assert d.page_content == texts[d.metadata["node_index"]]
        assert "layer_number" in d.metadata

    li = LlamaIndexRaptorRetriever(ra, top_k=5).retrieve("customer order data")
    assert [n.score for n in li] == sorted([n.score for n in li], reverse=True)
    assert li[0].score == 1.0 and li[0].text == lc[0].page_content


def test_meteor_kernel_values():
    from raptor_rag_spark.kernels.metrics import meteor

    assert round(meteor("a b c", "a b c"), 6) == round(1 - 0.5 * (1 / 3) ** 3, 6)
    assert meteor("b a", "a b") == 0.5  # full match, 2 chunks
    assert meteor("x y", "a b") == 0.0 and meteor("", "a") == 0.0


def test_update_documents_matches_rebuild(spark):
    """RetrievalAugmentation.update_documents folds a delta in incrementally
    and retrieval over the updated tree equals retrieval over a fresh build
    of the union corpus."""
    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=6)

    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.cachedData().size()
    ra_inc = RetrievalAugmentation(spark, cfg)
    ra_inc.add_documents(docs.filter("doc_id < 30"))
    ra_inc.update_documents(docs.filter("doc_id >= 30 AND doc_id < 40"))
    assert cache.cachedData().size() == cached  # both trees are committed already

    ra_full = RetrievalAugmentation(spark, cfg)
    ra_full.add_documents(docs.filter("doc_id < 40"))

    q = "what does the corpus say about shuffle partitions"
    assert ra_inc.retrieve(q, top_k=5) == ra_full.retrieve(q, top_k=5)
    # empty-tree fallback builds instead of raising
    ra_new = RetrievalAugmentation(spark, cfg)
    ra_new.update_documents(docs.filter("doc_id < 5"))
    assert ra_new.tree is not None


def test_unified_config_facade(spark, ra):
    """The facade accepts the unified RetrievalAugmentationConfig: tb_*/tr_*
    routing reaches the builder and retriever, the qa_model callable drives
    answer_question, and an injected reranker reorders the context."""
    from raptor_rag_spark.config import RetrievalAugmentationConfig
    from raptor_rag_spark.operators.rerank import BaseReRanker, overlap_score

    calls = []

    def qa(context, question):
        calls.append(question)
        return "ANSWER:" + context[:10]

    cfg = RetrievalAugmentationConfig(
        tb_max_tokens=64, tb_num_layers=2, tb_max_resolution=6, tr_top_k=4, qa_model=qa
    )
    r = RetrievalAugmentation(spark, config=cfg, tree=ra.tree)
    assert r.config.max_tokens == 64 and r.retriever_config.top_k == 4
    ans = r.answer_question("spark join data", top_k=5)
    assert ans.startswith("ANSWER:") and calls == ["spark join data"]

    class ReverseReRanker(BaseReRanker):
        def scorer(self, text, query_text):
            return -overlap_score(text, query_text)  # invert the default order

    cfg2 = RetrievalAugmentationConfig(
        tb_max_tokens=64, tb_num_layers=2, tb_max_resolution=6,
        tr_reranker=ReverseReRanker(),
    )
    r2 = RetrievalAugmentation(spark, config=cfg2, tree=ra.tree)
    base_ctx, _ = ra.retrieve("spark join data", top_k=5)
    rr_ctx, _ = r2.retrieve("spark join data", top_k=5)
    assert sorted(base_ctx.split("\n\n")) == sorted(rr_ctx.split("\n\n"))  # same nodes
    assert base_ctx != rr_ctx  # different order under the injected scorer


def test_flat_budget_mode(spark, ra):
    """top_k=None budget-only retrieval (reference use_top_k=False,
    faiss_retriever.py:146-154): every selected node fits the cumulative
    budget and the NEXT ranked node would overflow it."""
    from raptor_rag_spark.operators.core import with_embedding
    from raptor_rag_spark.operators.knn import flat_knn

    qdf = spark.createDataFrame([(0, "spark join data")], "query_id long, qtext string")
    queries = with_embedding(qdf, "qtext").select(
        "query_id", F.col("embedding").alias("q_embedding")
    )
    budget = 300
    got = flat_knn(ra.tree, queries, top_k=None, max_tokens=budget).collect()
    assert got, "budget-only mode returned nothing"
    assert sum(r["token_count"] for r in got) <= budget
    unbounded = flat_knn(ra.tree, queries, top_k=None, max_tokens=10**9)
    assert unbounded.count() == ra.tree.filter("level = 0").count()  # no k-cap
    with pytest.raises(ValueError, match="one of top_k or max_tokens"):
        flat_knn(ra.tree, queries, top_k=None, max_tokens=None).collect()


def test_retrieve_batch_dataframe_scales_without_extra_actions(ra, spark):
    """100 questions through retrieve_batch cost the same number of Spark
    jobs as one question — the batch is ONE broadcast kNN plan, not a
    per-question loop (VERDICT r2 #7)."""
    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = spark.createDataFrame([(0, "spark join data")], "query_id long, qtext string")
    many = spark.createDataFrame(
        [(i, f"spark join data variant {i}") for i in range(100)],
        "query_id long, qtext string",
    )
    n_one = jobs_in("batch-1", lambda: ra.retrieve_batch(one).collect())
    n_many = jobs_in("batch-100", lambda: ra.retrieve_batch(many, top_k=5).collect())
    assert n_many <= n_one + 2  # same plan shape; AQE may add a stage or two

    out = ra.retrieve_batch(many, top_k=5).collect()
    assert len(out) == 100
    assert all(r["context"].endswith("\n\n") for r in out)


ACTION_NAMES = (
    "collect", "count", "toPandas", "localCheckpoint", "isEmpty",
    "first", "take", "head", "foreach", "foreachPartition",
)


def _count_actions(monkeypatch, fn, df_cls):
    """Run fn with every DataFrame action method instrumented on the
    CONCRETE DataFrame class (pyspark 4's classic subclass overrides the
    base methods, so patching pyspark.sql.DataFrame would be shadowed);
    return the number of action invocations it made."""
    DataFrame = df_cls

    calls = []
    for name in ACTION_NAMES:
        orig = getattr(DataFrame, name)

        def wrapper(self, *a, _orig=orig, _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, wrapper)
    out = fn()
    return out, calls


def test_single_question_retrieve_is_one_action_warm(ra, spark, monkeypatch):
    """Round-3 audit item: interactive retrieve must not pay per-call driver
    work. On a warm facade a single question under the broadcast bound runs
    NO Spark action, in both collapsed and traversal modes (the first
    question collected the tree). With the bound at -1 it costs exactly ONE
    action — the result collect — and the context is byte-identical to a
    cold call."""
    cold_ctx, cold_layers = ra.retrieve("spark join data", top_k=5)
    ra._warm()  # warm the per-tree metadata cache

    df_cls = type(ra.tree)
    collapsed = lambda: ra.retrieve("spark join data", top_k=5)  # noqa: E731
    traversal = lambda: ra.retrieve(  # noqa: E731
        "spark join data", collapse_tree=False, return_layer_information=False
    )
    (got, calls) = _count_actions(monkeypatch, collapsed, df_cls)
    assert got == (cold_ctx, cold_layers) and calls == []
    (got_t, calls_t) = _count_actions(monkeypatch, traversal, df_cls)
    assert isinstance(got_t, str) and len(got_t) > 0 and calls_t == []
    monkeypatch.undo()

    with spark_plan_only(spark):
        (got, calls) = _count_actions(monkeypatch, collapsed, df_cls)
        ctx, layers = got
        assert ctx == cold_ctx and layers == cold_layers
        assert len(calls) == 1 and calls[0] == "collect", calls

        (got_t, calls_t) = _count_actions(monkeypatch, traversal, df_cls)
    assert isinstance(got_t, str) and len(got_t) > 0
    # traversal is the bounded-rounds descent: one localCheckpoint per
    # descended level (plan truncation, metadata-scale) + the result collect.
    # num_layers=2 here → at most 3 checkpoints + 1 collect.
    assert calls_t[-1] == "collect" and calls_t.count("collect") == 1, calls_t
    assert len(calls_t) <= 4 and set(calls_t[:-1]) <= {"localCheckpoint"}, calls_t


def test_cell_pruned_retrieve_mode_uses_cached_counts(ra):
    """collapse_tree="cell" routes through cell_pruned_knn with the
    facade-cached corpus_cell_counts; results carry the standard shape and
    respect top_k."""
    out = ra.retrieve(["spark join data", "customer order"], top_k=3, collapse_tree="cell")
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    # cached: second call reuses the same materialized counts DataFrame
    cc1 = ra.cell_counts
    assert ra.cell_counts is cc1
