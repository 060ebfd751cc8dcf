"""Shared fixtures mirroring the reference suite (reference: tests/conftest.py).

Seeds are load-bearing (FIXTURES.md §A): rng(42) embeddings, rng(123) leaf
nodes, rng(456) parent embeddings. The Spark session fixture is module-scoped
local[4] with AQE + Arrow enabled (the bench runs local[8]/local[32]).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import numpy as np
import pytest

from raptor_rag_spark.model import Node, Tree


@pytest.fixture
def sample_text():
    return (
        "The quick brown fox jumps over the lazy dog. "
        "A wizard's job is to vex chumps quickly in fog! "
        "How vexingly quick daft zebras jump? "
        "Pack my box with five dozen liquor jugs.\n"
        "Sphinx of black quartz, judge my vow. "
        "The five boxing wizards jump quickly."
    )


@pytest.fixture
def long_text():
    paragraphs = [
        "Machine learning is a field of artificial intelligence. It studies algorithms that "
        "improve through experience. Models are trained on data. Generalization is the goal.",
        "Deep learning uses neural networks with many layers. Backpropagation computes "
        "gradients. GPUs accelerate training. Overfitting is a common problem.",
        "Natural language processing handles text. Tokenization splits text into units. "
        "Embeddings map tokens to vectors. Transformers changed the field.",
        "Reinforcement learning optimizes behavior via rewards. Agents explore environments. "
        "Policies map states to actions. Value functions estimate returns.",
    ]
    return "\n".join(paragraphs)


@pytest.fixture
def sample_embedding():
    return np.random.default_rng(42).standard_normal(8)


@pytest.fixture
def sample_nodes():
    rng = np.random.default_rng(123)
    texts = [
        "Artificial intelligence mimics human cognition.",
        "Neural networks learn hierarchical features.",
        "Embeddings capture semantic similarity.",
        "Clustering groups related documents.",
        "Retrieval finds relevant context for queries.",
    ]
    return {
        i: Node(text=t, index=i, children=set(), embeddings={"test_model": rng.standard_normal(8).tolist()})
        for i, t in enumerate(texts)
    }


@pytest.fixture
def sample_tree(sample_nodes):
    rng = np.random.default_rng(456)
    parents = {
        5: Node("Summary of AI and neural networks.", 5, {0, 1}, {"test_model": rng.standard_normal(8).tolist()}),
        6: Node("Summary of embeddings, clustering, retrieval.", 6, {2, 3, 4}, {"test_model": rng.standard_normal(8).tolist()}),
    }
    all_nodes = dict(sample_nodes) | parents
    return Tree(
        all_nodes=all_nodes,
        root_nodes=parents,
        leaf_nodes=dict(sample_nodes),
        num_layers=1,
        layer_to_nodes={0: list(sample_nodes.values()), 1: list(parents.values())},
    )


@pytest.fixture(scope="session")
def spark():
    from raptor_rag_spark.session import get_spark

    s = get_spark(app_name="raptor-rag-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


class SparkJobs:
    """Counts the Spark jobs run inside a ``with`` block: the block runs
    under a job group of its own, read back from the status tracker once the
    listener bus has delivered every job event."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"jobcount-{uuid.uuid4().hex}"
        self.ids: list[int] = []

    def __enter__(self):
        self.saved = {p: self.sc.getLocalProperty(p) for p in self._PROPS}
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.ids = sorted(self.sc.statusTracker().getJobIdsForGroup(self.group))
        for prop, value in self.saved.items():
            self.sc.setLocalProperty(prop, value)
        return False

    def __len__(self) -> int:
        return len(self.ids)


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` then ``len(jobs)``."""
    return lambda: SparkJobs(spark)


@contextmanager
def spark_plan_only(spark):
    """A broadcast bound of -1 inside the block: every question runs the
    Spark plan (the tree stays off the driver) and every tree level is
    gathered by the salted shuffle."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
