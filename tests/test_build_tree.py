"""Tree-build plan tests: level semantics, checkpoint/resume, salting.

Mirrors the reference's cluster_tree_builder contracts (stop rule, children
coverage, per-level layering) plus the north rule's resume requirement.
"""

from contextlib import nullcontext

import pytest
from conftest import spark_plan_only
from pyspark.sql import functions as F

from raptor_rag_spark.config import ClusterTreeConfig
from raptor_rag_spark.kernels.embedder import HashNgramEmbeddingModel
from raptor_rag_spark.operators.rollup import build_parent_nodes, level_stats, salt_bucket_count, tile_stats
from raptor_rag_spark.plans.build_tree import build_tree, load_tree
from raptor_rag_spark.sources.checkpoint import TreeCheckpoint

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"
CFG = dict(max_tokens=64, num_layers=4, max_resolution=5)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 80").cache()


@pytest.fixture(scope="module")
def tree(spark, docs):
    return build_tree(docs, ClusterTreeConfig(**CFG)).cache()


def test_levels_shrink(tree):
    counts = {r["level"]: r["count"] for r in tree.groupBy("level").count().collect()}
    assert counts[0] > counts[1]
    for lv in range(1, max(counts)):
        assert counts[lv] >= counts[lv + 1]


def test_children_cover_previous_level(tree):
    max_level = tree.agg(F.max("level")).first()[0]
    for lv in range(1, max_level + 1):
        children = {
            c
            for r in tree.filter(F.col("level") == lv).select("children").collect()
            for c in r["children"]
        }
        prev = {r["node_id"] for r in tree.filter(F.col("level") == lv - 1).select("node_id").collect()}
        assert children == prev, f"level {lv} children must partition level {lv - 1}"


def test_children_sorted_unique(tree):
    rows = tree.filter("level > 0").select("children").collect()
    for r in rows:
        ch = list(r["children"])
        assert ch == sorted(set(ch))


def test_parent_cell_is_bit_parent(tree, spark):
    from raptor_rag_spark.functions.sqlgen import cell_parent_col

    pairs = (
        tree.filter("level = 1")
        .select(F.explode("children").alias("node_id"), F.col("cell_id").alias("parent_cell"))
        .join(tree.filter("level = 0").select("node_id", "cell_id"), "node_id")
        .withColumn("expect", cell_parent_col(F.col("cell_id"), 1))
    )
    assert pairs.filter(F.col("parent_cell") != F.col("expect")).count() == 0


def test_n_leaves_conserved(tree):
    leaf_count = tree.filter("level = 0").count()
    max_level = tree.agg(F.max("level")).first()[0]
    for lv in range(max_level + 1):
        total = tree.filter(F.col("level") == lv).agg(F.sum("n_leaves")).first()[0]
        assert total == leaf_count, f"level {lv} must conserve leaf count"


def _rows(tree):
    return (
        tree.select("node_id", "level", "cell_id", "token_count")
        .toPandas().sort_values("node_id").reset_index(drop=True)
    )


class Killed(RuntimeError):
    pass


def test_checkpoint_resume_identical(spark, docs, tmp_path_factory, monkeypatch):
    """A build killed at every commit point k >= 1 resumes to the
    uninterrupted tree, rebuilds no level below k and leaves one metrics
    row per level plus one final row."""
    import os

    import pandas as pd

    import raptor_rag_spark.plans.build_tree as bt
    from raptor_rag_spark.sources.metrics import MetricsTable

    cfg = ClusterTreeConfig(**CFG)
    full_pdf = _rows(build_tree(docs, cfg, checkpoint_dir=str(tmp_path_factory.mktemp("tree_full"))))
    n_levels = int(full_pdf["level"].max()) + 1
    assert n_levels >= 3

    real_parents, real_write = bt.build_parent_nodes, TreeCheckpoint.write_level
    for k in range(1, n_levels):
        d = str(tmp_path_factory.mktemp(f"tree_kill_{k}"))

        def parents_or_kill(df, next_level, **kw):
            if next_level == k:
                raise Killed(f"killed before level {k} committed")
            return real_parents(df, next_level, **kw)

        monkeypatch.setattr(bt, "build_parent_nodes", parents_or_kill)
        with pytest.raises(Killed):
            build_tree(docs, cfg, checkpoint_dir=d)
        ckpt = TreeCheckpoint(d)
        assert ckpt.resume_level() == k and not ckpt.is_complete()
        monkeypatch.setattr(bt, "build_parent_nodes", real_parents)

        written = []

        def spy_write(self, df, level, extra=None):
            written.append(level)
            return real_write(self, df, level, extra)

        monkeypatch.setattr(TreeCheckpoint, "write_level", spy_write)
        resumed = build_tree(docs, cfg, checkpoint_dir=d)
        monkeypatch.setattr(TreeCheckpoint, "write_level", real_write)

        pd.testing.assert_frame_equal(full_pdf, _rows(resumed))
        assert written == list(range(k, n_levels))  # levels below k not rebuilt
        m = MetricsTable(os.path.join(d, "_metrics")).load(spark).toPandas()
        assert sorted(m[m.kind == "tree_level"].key) == [str(lv) for lv in range(n_levels)]
        assert list(m[m.kind == "final"].rows) == [n_levels]

    # manifests carry the observed rows, rows per written file and schema
    m = ckpt.manifest(0)
    assert m["rows"] > 0 and m["partitions"] and m["committed"] and m["schema"]
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
    assert "hot_cells" not in m
    assert load_tree(spark, d).count() == len(full_pdf)


def test_commit_is_one_job_and_reads_none(spark, docs, tmp_path, spark_jobs, monkeypatch):
    """A checkpointed level commit runs one Spark job (the write); reading a
    level or the whole tree back runs none; the build's stop rule reads the
    committed manifests instead of running ``count()`` jobs."""
    frame = type(docs)
    real_count, count_jobs = frame.count, []

    def spy_count(self):
        with spark_jobs() as jobs:
            n = real_count(self)
        count_jobs.append(len(jobs))
        return n

    d = str(tmp_path / "tree")
    monkeypatch.setattr(frame, "count", spy_count)
    with spark_jobs() as build:
        build_tree(docs, ClusterTreeConfig(**CFG), checkpoint_dir=d)
    monkeypatch.setattr(frame, "count", real_count)
    assert len(build) > 0
    assert count_jobs == []

    ckpt = TreeCheckpoint(d)
    level = ckpt.read_level(spark, 1).cache()
    level.count()
    with spark_jobs() as write:
        TreeCheckpoint(str(tmp_path / "one")).write_level(level, 1)
    assert len(write) == 1
    level.unpersist()

    with spark_jobs() as read:
        ckpt.read_level(spark, 1)
        load_tree(spark, d)
    assert len(read) == 0


def test_read_level_schema_and_legacy_manifest(spark, docs, tmp_path):
    """The manifest's schema reads back exactly what inference would; a
    manifest without one (an older build) still loads through inference."""
    import json

    d = str(tmp_path / "tree")
    build_tree(docs, ClusterTreeConfig(max_tokens=64, num_layers=1, max_resolution=5), d)
    ckpt = TreeCheckpoint(d)
    inferred = spark.read.parquet(ckpt.level_dir(1)).withColumn("level", F.lit(1))
    assert ckpt.read_level(spark, 1).schema == inferred.schema

    m = ckpt.manifest(1)
    del m["schema"]
    with open(ckpt._manifest_path(1), "w") as f:
        json.dump(m, f)
    legacy = ckpt.read_level(spark, 1)
    assert legacy.schema == inferred.schema
    assert sorted(legacy.collect()) == sorted(inferred.collect())


def test_load_missing_path_creates_nothing(spark, tmp_path):
    import os

    missing = str(tmp_path / "typo")
    with pytest.raises(FileNotFoundError):
        load_tree(spark, missing)
    assert not os.path.exists(missing)


def test_hot_cell_salting(spark, docs):
    # force salting: tiny max_length_in_cluster makes every cell hot
    from raptor_rag_spark.operators.core import leaf_nodes

    leaves = leaf_nodes(docs, max_tokens=64, res=3).localCheckpoint(eager=True)
    for bound in (nullcontext(), spark_plan_only(spark)):  # one task, salted shuffle
        with bound:
            _check_hot_cell_salting(leaves)


def _check_hot_cell_salting(leaves):
    parents_salted = build_parent_nodes(leaves, 1, max_length_in_cluster=100)
    parents_plain = build_parent_nodes(leaves, 1, max_length_in_cluster=10**9)
    n_salted, n_plain = parents_salted.count(), parents_plain.count()
    assert n_salted > n_plain  # hot cells split into multiple parents
    # salted parents still conserve leaves
    assert parents_salted.agg(F.sum("n_leaves")).first()[0] == leaves.count()

    # exact buckets from the Python twin: a hot cell's member goes to
    # node_id % salt_bucket_count(tok_sum, n_members, max), a cold one to 0;
    # a parent's node_id is the hash of its (cell, salt), its children the
    # bucket's sorted members
    from collections import defaultdict

    from raptor_rag_spark.kernels.grid import cell_parent
    from raptor_rag_spark.kernels.textstats import portable_hash63

    for max_len, parents in ((100, parents_salted), (10**9, parents_plain)):
        cells = defaultdict(list)
        for r in leaves.select("node_id", "cell_id", "token_count").collect():
            cells[int(cell_parent(r["cell_id"], 1))].append((r["node_id"], r["token_count"]))
        want = defaultdict(list)
        for cell, members in cells.items():
            tok_sum = sum(t for _, t in members)
            n = salt_bucket_count(tok_sum, len(members), max_len) if tok_sum > max_len else 1
            for nid, _ in members:
                want[(cell, portable_hash63(f"L1|{cell}|{nid % n}"))].append(nid)
        got = {(r["cell_id"], r["node_id"]): list(r["children"]) for r in parents.collect()}
        assert got == {k: sorted(v) for k, v in want.items()}
    assert salt_bucket_count(1000, 7, 100) == 7
    assert salt_bucket_count(1000, 50, 100) == 10


def test_hot_cell_buckets_spread_over_tasks(spark, docs):
    """Over the broadcast bound, salting must spread a hot cell's work, not
    only cap its group size: with nine in ten leaves in one cell, that
    cell's salt buckets are summarized in more than one task (shuffle
    partition)."""
    from raptor_rag_spark.kernels.grid import cell_parent
    from raptor_rag_spark.operators.core import leaf_nodes

    leaves = leaf_nodes(docs, max_tokens=64, res=3).cache()
    hot_cell = leaves.select("cell_id").first()[0]
    skewed = leaves.withColumn(
        "cell_id", F.when(F.col("node_id") % 10 != 0, F.lit(hot_cell)).otherwise(F.col("cell_id"))
    )
    with spark_plan_only(spark):  # over the bound: the salted shuffle
        parents = build_parent_nodes(skewed, 1, max_length_in_cluster=100)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # else AQE folds this tiny input into one task
    try:
        hot = parents.filter(F.col("cell_id") == int(cell_parent(hot_cell, 1)))
        tasks = [r["task"] for r in hot.select(F.spark_partition_id().alias("task")).collect()]
    finally:
        spark.conf.set(key, old)
    assert len(tasks) > 4  # the hot cell is salted into several buckets
    assert len(set(tasks)) > 1
    leaves.unpersist()


@pytest.mark.parametrize("lattice", ["quad", "hex"])
@pytest.mark.parametrize("max_length_in_cluster", [3500, 100])
def test_one_task_levels_match_salted_shuffle(spark, docs, lattice, max_length_in_cluster):
    """A tree whose levels are all under the broadcast bound (each gathered
    and summarized in one task) is row-for-row, bit-for-bit the tree the
    salted shuffle builds at bound -1: every column, the per-model
    ``embeddings`` map included, with hot cells salted at 100 tokens."""
    cfg = ClusterTreeConfig(
        max_tokens=64, num_layers=3, max_resolution=6, lattice=lattice,
        max_length_in_cluster=max_length_in_cluster,
        embedding_models={"default": HashNgramEmbeddingModel(), "narrow": HashNgramEmbeddingModel(dim=16)},
    )

    def rows():
        tree = build_tree(docs, cfg).withColumn("embeddings", F.map_entries("embeddings"))
        return tree.toPandas().sort_values("node_id").reset_index(drop=True)

    one_task = rows()
    with spark_plan_only(spark):
        shuffled = rows()
    assert one_task["level"].max() == 3
    assert list(one_task.columns) == list(shuffled.columns)
    for c in one_task.columns:
        assert one_task[c].map(repr).tolist() == shuffled[c].map(repr).tolist(), c


def test_empty_level_gives_no_parents_on_both_paths(spark, docs):
    """A level with no rows gives no parent on either path; the one-task
    path sees no Arrow batch at all."""
    from raptor_rag_spark.operators.core import leaf_nodes

    leaves = leaf_nodes(docs, max_tokens=64, res=3).localCheckpoint(eager=True)
    empty = leaves.filter(F.col("node_id") < F.lit(0) - F.col("token_count"))
    assert build_parent_nodes(empty, 1).count() == 0
    with spark_plan_only(spark):
        assert build_parent_nodes(empty, 1).count() == 0


def test_small_parent_level_commits_in_one_job(spark, docs, tmp_path, spark_jobs, monkeypatch):
    """A checkpointed build of levels under the broadcast bound commits each
    parent level in one Spark job: the level's write, with no salt-map
    pre-pass, broadcast or member shuffle before it."""
    real_write, jobs_per_level = TreeCheckpoint.write_level, {}

    def spy_write(self, df, level, extra=None):
        with spark_jobs() as jobs:
            out = real_write(self, df, level, extra)
        jobs_per_level[level] = len(jobs)
        return out

    monkeypatch.setattr(TreeCheckpoint, "write_level", spy_write)
    build_tree(docs, ClusterTreeConfig(**CFG), checkpoint_dir=str(tmp_path / "tree"))
    parents = {lv: n for lv, n in jobs_per_level.items() if lv > 0}
    assert len(parents) >= 2 and set(parents.values()) == {1}, jobs_per_level


def test_uncheckpointed_level_over_bound_takes_the_shuffle(spark, docs):
    """The one-task rule holds a level's measured member bytes, observed by
    its commit, against the bound, not the optimizer's estimate: an
    uncheckpointed level's ``localCheckpoint`` keeps the estimate of the plan
    that made it, which here undercounts the leaves. With the bound between
    the two, the level is over it and is gathered by the salted shuffle."""
    import raptor_rag_spark.plans.build_tree as bt
    from raptor_rag_spark.operators.rollup import member_bytes

    leaves, rows, size = bt._commit(bt._leaves(docs, ClusterTreeConfig(**CFG), "doc_id", "text"), 0)
    estimate = int(leaves._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert rows == leaves.count() and size == leaves.select(F.sum(member_bytes())).first()[0]
    assert estimate < size
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str((estimate + size) // 2))
    try:
        # the build's figure, and the one a direct call measures itself
        for parents in (build_parent_nodes(leaves, 1, level_bytes=size), build_parent_nodes(leaves, 1)):
            plan = parents._sc._jvm.PythonSQLUtils.explainString(parents._jdf.queryExecution(), "simple")
            assert "Exchange hashpartitioning(parent_cell" in plan and "Coalesce 1" not in plan, plan
    finally:
        spark.conf.set(key, prev)


def test_tile_and_level_stats(tree):
    tiles = tile_stats(tree)
    assert tiles.filter("n <= 0").count() == 0
    stats = level_stats(tree).orderBy("level").collect()
    assert stats[0]["compression_ratio"] == pytest.approx(1.0)
    # summaries compress: upper levels hold fewer tokens than the leaves
    assert stats[-1]["token_sum"] < stats[0]["token_sum"]


def test_config_keyed_cache_skip_and_reject(spark, docs, tmp_path_factory, monkeypatch):
    """Completed checkpoint + same config = zero build work (skip-if-exists);
    different config on the same dir = ValueError (reference
    benchmarks/_tree_cache.py:27-51)."""
    d = str(tmp_path_factory.mktemp("tree_cache"))
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=6)
    first = build_tree(docs, cfg, checkpoint_dir=d)
    n = first.count()

    # same config: must come straight from the cache — leaf build forbidden
    import raptor_rag_spark.plans.build_tree as bt

    def boom(*a, **k):
        raise AssertionError("leaf_nodes called despite completed cache")

    monkeypatch.setattr(bt, "leaf_nodes", boom)
    again = build_tree(docs, cfg, checkpoint_dir=d)
    assert again.count() == n
    monkeypatch.undo()

    # changed config: refuse the dir instead of silently mixing levels
    cfg2 = ClusterTreeConfig(max_tokens=32, num_layers=2, max_resolution=6)
    assert cfg2.config_hash() != cfg.config_hash()
    with pytest.raises(ValueError, match="different config"):
        build_tree(docs, cfg2, checkpoint_dir=d)


def test_metrics_table_sink_and_resume(spark, docs, tmp_path_factory):
    """S8 metrics sink: checkpointed builds append per-level + final rows;
    resume_filter anti-joins completed keys (S5 shape)."""
    import os

    from raptor_rag_spark.sources.metrics import MetricsTable

    d = str(tmp_path_factory.mktemp("tree_metrics"))
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=6)
    build_tree(docs, cfg, checkpoint_dir=d)

    mt = MetricsTable(os.path.join(d, "_metrics"))
    m = mt.load(spark)
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert kinds == {"tree_level", "final"}
    levels = sorted(r["key"] for r in m.filter("kind = 'tree_level'").collect())
    assert levels[0] == "0" and len(levels) >= 2
    assert all(r["rows"] > 0 for r in m.filter("kind = 'tree_level'").collect())

    # resume: pending work keyed by level, already-recorded levels drop out
    pending = spark.createDataFrame([(k,) for k in ["0", "1", "99"]], "level string")
    left = mt.resume_filter(pending, spark, "tree_level", "level").collect()
    assert [r["level"] for r in left] == ["99"]


def test_metrics_append_runs_no_job(spark, tmp_path, spark_jobs):
    """An append writes its file on the driver: no Spark job, and rows with
    missing fields load back as NULLs in the table's schema."""
    import os

    from raptor_rag_spark.sources.metrics import METRICS_SCHEMA, MetricsTable

    mt = MetricsTable(str(tmp_path / "_metrics"))
    with spark_jobs() as jobs:
        mt.append(spark, [{"run_id": "r", "kind": "tree_level", "key": "0", "rows": 7,
                           "wall_ms": 12, "extra": "{}"}])
        mt.append(spark, [{"kind": "final", "key": "build"}])
    assert len(jobs) == 0
    m = mt.load(spark)
    assert m.schema.simpleString() == spark.createDataFrame([], METRICS_SCHEMA).schema.simpleString()
    assert sorted((tuple(r) for r in m.collect()), key=lambda r: r[1]) == [
        (None, "final", "build", None, None, None),
        ("r", "tree_level", "0", 7, 12, "{}"),
    ]
    assert all(f.startswith("part-") for f in os.listdir(tmp_path / "_metrics"))


def test_update_tree_matches_full_rebuild(spark):
    """Incremental dirty-tile update must be node-for-node identical to a
    full rebuild over the union corpus — ids, cells, levels, texts, children
    and embeddings."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=6)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id < 30")
    extra = docs.filter("doc_id >= 30 AND doc_id < 40")

    def sig(tree):
        rows = tree.select(
            "node_id",
            "level",
            "cell_id",
            "text",
            "token_count",
            F.array_sort("children").alias("ch"),
            F.round(F.aggregate("embedding", F.lit(0.0), lambda a, v: a + v), 6).alias("es"),
        ).collect()
        return sorted(
            (r["node_id"], r["level"], r["cell_id"], r["text"], r["token_count"],
             tuple(r["ch"]), r["es"])
            for r in rows
        )

    for bound in (nullcontext(), spark_plan_only(spark)):  # one task, salted shuffle
        with bound:
            full = build_tree(docs.filter("doc_id < 40"), cfg)
            updated = update_tree(build_tree(base, cfg), extra, cfg)
            assert sig(updated) == sig(full)
    # the stock config and the same model named explicitly build one tree
    explicit = ClusterTreeConfig(
        max_tokens=64, num_layers=3, max_resolution=6,
        embedding_models={"default": HashNgramEmbeddingModel()},
    )
    assert sig(build_tree(docs.filter("doc_id < 40"), explicit)) == sig(full)


def test_uncheckpointed_levels_count_nothing_and_cache_nothing(spark, monkeypatch):
    """Without a checkpoint dir, build_tree and update_tree observe each
    level's rows in the job that materializes it: no ``count()`` call, and
    no cached plan left registered in the SparkSession."""
    from raptor_rag_spark.plans.build_tree import update_tree

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=6)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    frame = type(docs)
    real_count, calls = frame.count, []

    def spy_count(self):
        calls.append(1)
        return real_count(self)

    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.cachedData().size()
    monkeypatch.setattr(frame, "count", spy_count)
    base = build_tree(docs.filter("doc_id < 30"), cfg)
    updated = update_tree(base, docs.filter("doc_id >= 30 AND doc_id < 40"), cfg)
    monkeypatch.setattr(frame, "count", real_count)
    assert calls == []
    assert cache.cachedData().size() == cached
    assert updated.agg(F.max("level")).first()[0] >= 2


def test_narrower_cluster_model_is_refused(docs):
    """The xy projection reads 64 entries of the cluster vector: a narrower
    model fails, naming the model and both widths — before any job when it
    declares its width, else at its first executor batch."""
    from raptor_rag_spark.kernels.adapters import RetryingEmbeddingModel
    from raptor_rag_spark.kernels.embedder import embed_texts

    msg = "model 'default' gives 32-dimensional vectors, but the tile tree projects 64-dimensional ones"
    cfg = ClusterTreeConfig(embedding_models={"default": HashNgramEmbeddingModel(dim=32)}, **CFG)
    with pytest.raises(ValueError, match=msg):
        build_tree(docs, cfg)
    undeclared = RetryingEmbeddingModel(lambda: lambda texts: embed_texts(texts, 32), attempts=1)
    cfg = ClusterTreeConfig(embedding_models={"default": undeclared}, **CFG)
    with pytest.raises(Exception, match=msg):
        build_tree(docs.filter("doc_id < 10"), cfg)


def test_wider_model_builds_and_loads_only_on_executors(docs):
    """A cluster model wider than 64 builds (the projection reads its first
    64 entries), and the build never loads a model backend on the driver:
    the loader's calls on executors do not reach this process's list."""
    from raptor_rag_spark.kernels.adapters import RetryingEmbeddingModel
    from raptor_rag_spark.kernels.embedder import embed_texts

    loads = []

    def loader():
        loads.append(1)
        return lambda texts: embed_texts(texts, 128)

    model = RetryingEmbeddingModel(loader, attempts=1)
    cfg = ClusterTreeConfig(embedding_models={"default": model}, **CFG)
    tree = build_tree(docs.filter("doc_id < 40"), cfg)
    widths = tree.select(F.size("embedding").alias("w")).distinct().collect()
    assert [r["w"] for r in widths] == [128]
    assert tree.agg(F.max("level")).first()[0] >= 1
    assert loads == [] and model._encode is None


def test_update_tree_touches_only_dirty_cells(spark):
    """A single new document must leave every node outside its dirty-cell
    cone byte-identical (same node_id set per untouched cell)."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.kernels.grid import cell_parent
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree
    from raptor_rag_spark.operators.core import leaf_nodes

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=6)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base_tree = build_tree(docs.filter("doc_id < 30"), cfg).cache()
    extra = docs.filter("doc_id = 31")

    new_cells = {
        int(cell_parent(r["cell_id"], 1))
        for r in leaf_nodes(extra, max_tokens=64, res=6).select("cell_id").collect()
    }
    updated = update_tree(base_tree, extra, cfg).cache()
    before = {
        (r["level"], r["cell_id"]): r["node_id"]
        for r in base_tree.filter("level = 1").collect()
    }
    after = {
        (r["level"], r["cell_id"]): r["node_id"]
        for r in updated.filter("level = 1").collect()
    }
    for key, nid in before.items():
        if key[1] not in new_cells:
            assert after[key] == nid  # untouched level-1 cells are identical


def test_update_tree_deepens_shallow_base(spark):
    """When the base corpus is so small its tree stopped at a shallow level,
    folding in a larger batch must still produce the full-depth union tree
    (every level beyond the base's max is recomputed whole)."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=6)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id < 3")
    extra = docs.filter("doc_id >= 3 AND doc_id < 40")

    base_tree = build_tree(base, cfg)
    full = build_tree(docs.filter("doc_id < 40"), cfg)
    updated = update_tree(base_tree, extra, cfg)

    assert base_tree.agg(F.max("level")).collect()[0][0] < \
        full.agg(F.max("level")).collect()[0][0]

    def sig(tree):
        rows = tree.select(
            "node_id", "level", "cell_id", "text", "token_count",
            F.array_sort("children").alias("ch"),
        ).collect()
        return sorted(
            (r["node_id"], r["level"], r["cell_id"], r["text"],
             r["token_count"], tuple(r["ch"]))
            for r in rows
        )

    assert sig(updated) == sig(full)


def test_update_tree_wide_dirty_set_stays_distributed(spark):
    """Dirty-set propagation must survive a dirty set of >= 10^4 distinct
    cells — the 100-TB-scale shape where a 0.1% daily crawl touches millions
    of cells. The set is carried as a DataFrame through broadcast semi/anti
    joins (never collected into an ``isin`` literal list), so the per-level
    plan stays O(1) in dirty-set size; a literal-list plan blows up Catalyst
    analysis long before this size. Measured ~15 s wall at 13k new docs /
    10k+ dirty cells on local[32]."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.functions import sqlgen as G
    from raptor_rag_spark.operators.core import leaf_nodes
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=9)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base_tree = build_tree(docs.filter("doc_id < 50"), cfg).localCheckpoint(eager=True)

    extra = spark.range(13000).select(
        (F.col("id") + 100000).alias("doc_id"),
        F.concat(F.lit("unique token "), F.sha2(F.col("id").cast("string"), 256)).alias("text"),
    )
    new_leaves = leaf_nodes(extra, max_tokens=64, res=9)
    n_dirty = (
        new_leaves.select(G.cell_parent_col(F.col("cell_id"), 1).alias("c"))
        .distinct()
        .count()
    )
    assert n_dirty >= 10_000  # the test genuinely exercises the target scale

    updated = update_tree(base_tree, extra, cfg).cache()
    n_base_leaves = base_tree.filter("level = 0").count()
    assert updated.filter("level = 0").count() == n_base_leaves + new_leaves.count()
    assert updated.agg(F.max("level")).collect()[0][0] >= 1
    updated.unpersist()


def test_hex_lattice_tree(spark):
    """build_tree(lattice='hex') runs the identical pipeline on the hex
    lattice: every level's cells are valid hex ids one resolution coarser,
    children partition the level below, and the config hash differs from the
    quad tree's (separate cache key)."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.functions import hexgen as H
    from raptor_rag_spark.plans.build_tree import build_tree

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = ClusterTreeConfig(max_tokens=48, num_layers=2, max_resolution=4, lattice="hex")
    assert cfg.config_hash() != ClusterTreeConfig(
        max_tokens=48, num_layers=2, max_resolution=4
    ).config_hash()
    tree = build_tree(docs, cfg)
    rows = tree.select("node_id", "level", "cell_id", "children").collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], []).append(r)
    assert set(by_level) >= {0, 1}
    for lv, rs in by_level.items():
        for r in rs:
            assert (r["cell_id"] >> H.RES_SHIFT) == 4 - lv  # hex res per level
    # children of level-1 nodes exactly partition level 0
    kids = [c for r in by_level[1] for c in r["children"]]
    assert sorted(kids) == sorted(r["node_id"] for r in by_level[0])
    # parent cell of each child's cell equals the parent's cell
    leaf_cell = {r["node_id"]: r["cell_id"] for r in by_level[0]}
    for r in by_level[1]:
        for c in r["children"]:
            assert H.hex_parent_packed_py(leaf_cell[c]) == r["cell_id"]


def test_update_tree_hex_lattice_matches_rebuild(spark):
    """Incremental update on the HEX lattice (dirty-set hops via
    ``rollup.parent_cell`` on hex ids) is node-for-node identical to a full
    rebuild."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree

    cfg = ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=4, lattice="hex")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id < 30")
    extra = docs.filter("doc_id >= 30 AND doc_id < 40")

    def sig(tree):
        rows = tree.select(
            "node_id", "level", "cell_id", "text", "token_count",
            F.array_sort("children").alias("ch"),
        ).collect()
        return sorted(
            (r["node_id"], r["level"], r["cell_id"], r["text"], r["token_count"], tuple(r["ch"]))
            for r in rows
        )

    for bound in (nullcontext(), spark_plan_only(spark)):  # one task, salted shuffle
        with bound:
            full = build_tree(docs.filter("doc_id < 40"), cfg)
            updated = update_tree(build_tree(base, cfg), extra, cfg)
            assert sig(updated) == sig(full)
