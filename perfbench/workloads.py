"""The benchmark's two workloads, their output checks and their metrics.

Both are closed loops with one client on one driver process, and both run
the same two phases on a corpus of seeded pages: ``ingest``, the first full
build over the pages, and ``read``, answering questions on what was built.

``tree`` runs them on the RAPTOR tile tree: one pass is a cold, checkpointed
``build_tree``, then single collapsed ``retrieve`` calls on a facade over
the checkpoint. ``search`` runs them on the lexical index: one pass is
``SearchIndex.build`` on a fresh lake root, ``add_documents`` with a 1%
crawl delta (3 new pages), then one BM25 + Dirichlet-QL + ``rrf_fuse``
battery with shared ``index_stats`` over 16 queries (the read). Each
workload repeats its pass until ``--seconds`` have passed, at least once,
and reports the median over its samples.

Inputs come only from the seed. The seed picks one of the input sets that
``signatures.json`` holds expected outputs for (``seed % len(table)``), and
that input set ``s`` fixes everything: the pages are
``sources.pages.make_page`` over ``[s * 10**7, s * 10**7 + 300)``, the delta
is the next 3 ids, and questions and queries are drawn from ``VOCAB`` with a
``random.Random`` keyed by ``s`` and a stream name.

A workload's constructor is its set-up; ``run_pass`` runs the timed loop,
then checks its outputs (untimed; a mismatch counts as a failed op) and
returns the end-to-end metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SIGNATURES = os.path.join(HERE, "signatures.json")

TREE_CONFIG = dict(max_tokens=64, num_layers=3, max_resolution=8)
TOP_K = 10
SIZES = {
    "tree": dict(pages=300, reads=3),
    "search": dict(pages=300, delta=3, queries=16),
}
SETUP_REPEATS = 3

END_TO_END = ("setup_s", "pass_s")
UNITS = {"setup_s": "s", "pass_s": "s"}

PER_LAYER = (
    "session.start_s",
    "session.warm_workers_s",
    "session.peak_rss_mb",
    "kernels.split_text.chunks_per_s",
    "kernels.embed_texts.rows_per_s",
    "kernels.extractive_summary.groups_per_s",
    "operators.self_s",
    "operators.task_s",
    "sources.self_s",
    "sources.jobs",
    "ingest.wall_s",
    "ingest.cpu_s",
    "ingest.jobs",
    "ingest.tasks",
    "ingest.task_s",
    "ingest.gc_ms",
    "ingest.shuffle_write_bytes",
    "ingest.bytes_per_input_byte",
    "read.wall_s_per_q",
    "read.cpu_s_per_q",
    "read.jobs_per_q",
    "read.tasks_per_q",
    "read.task_s_per_q",
    "read.shuffle_bytes_per_q",
    "trace.overhead_frac",
)


def layer_unit(name: str) -> str:
    for suffix, unit in (("per_s", "1/s"), ("bytes_per_q", "bytes/q"), ("_s_per_q", "s/q"),
                         ("_per_q", "1/q"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"),
                         ("_bytes", "bytes"),
                         ("_frac", "ratio"), ("per_input_byte", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------ inputs
def recorded_table() -> dict:
    with open(SIGNATURES) as f:
        return json.load(f)


def input_set(seed: int) -> int:
    """The recorded input set a seed selects."""
    return seed % len(recorded_table())


def page_rows(inputs: int, start: int, n: int) -> list[tuple[int, str]]:
    from raptor_rag_spark.sources.pages import make_page

    base = inputs * 10**7
    return [(i, make_page(i)["text"]) for i in range(base + start, base + start + n)]


def questions(inputs: int, stream: str, n: int) -> list[str]:
    from raptor_rag_spark.sources.pages import VOCAB

    rng = random.Random(f"{inputs}/{stream}")
    return [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5))) for _ in range(n)]


def docs_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def query_frame(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "query_id long, qtext string")


def cached(df):
    df = df.cache()
    df.count()
    return df


# ------------------------------------------------------------- signatures
def tree_signature(tree) -> str:
    """Order-insensitive digest over (node_id, level, cell_id, token_count)."""
    rows = sorted(
        tuple(r) for r in tree.select("node_id", "level", "cell_id", "token_count").collect()
    )
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]


def reads_signature(reads) -> str:
    """Digest over each single question's context and (node, layer) list."""
    return hashlib.sha256(json.dumps([
        (text, [(d["node_index"], d["layer_number"]) for d in layers])
        for text, layers in reads
    ]).encode()).hexdigest()[:16]


def ranks_signature(rows) -> str:
    return hashlib.sha256(
        json.dumps(sorted((r["query_id"], r["doc_id"], r["rank"]) for r in rows)).encode()
    ).hexdigest()[:16]


def missing_children(tree) -> int:
    """Child ids that do not exist one level below their parent."""
    from pyspark.sql import functions as F

    kids = tree.filter(F.col("level") > 0).select(
        (F.col("level") - 1).alias("level"), F.explode("children").alias("node_id")
    )
    return kids.join(tree.select("node_id", "level"), ["node_id", "level"], "left_anti").count()


def battery(spark, index, queries):
    """BM25 + Dirichlet-QL fused by RRF over one shared set of statistics."""
    from raptor_rag_spark.operators import ranking as R

    postings = index.postings(spark)
    stats = R.index_stats(postings)
    a = R.bm25_rank(None, queries, top_k=TOP_K, max_df_ratio=(9, 10), postings=postings,
                    shared=stats)
    b = R.ql_rank(None, queries, top_k=TOP_K, postings=postings, shared=stats)
    return R.rrf_fuse(a, b, top_k=TOP_K).collect()


def reference_trees(spark, inputs: int) -> dict:
    """The tree workload's expected signatures for an input set, computed
    from scratch: the tree built over the pages (without a checkpoint) and
    the single questions asked on it."""
    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree

    size = SIZES["tree"]
    cfg = ClusterTreeConfig(**TREE_CONFIG)
    tree = build_tree(docs_frame(spark, page_rows(inputs, 0, size["pages"])), cfg).cache()
    ra = RetrievalAugmentation(spark, cfg, tree=tree)
    return {
        "build": tree_signature(tree),
        "reads": reads_signature(
            [ra.retrieve(q) for q in questions(inputs, "single", size["reads"])]),
    }


def reference_ranks(spark, inputs: int) -> dict:
    """The search workload's expected ranks signature for an input set: the
    battery over postings built fresh from the union of pages and delta."""
    from raptor_rag_spark.operators import ranking as R

    size = SIZES["search"]
    union = cached(docs_frame(spark, page_rows(inputs, 0, size["pages"] + size["delta"])))
    postings = R.bm25_index(union).localCheckpoint(eager=True)
    queries = query_frame(spark, questions(inputs, "search", size["queries"]))
    stats = R.index_stats(postings)
    a = R.bm25_rank(None, queries, top_k=TOP_K, max_df_ratio=(9, 10), postings=postings,
                    shared=stats)
    b = R.ql_rank(None, queries, top_k=TOP_K, postings=postings, shared=stats)
    return {"search": ranks_signature(R.rrf_fuse(a, b, top_k=TOP_K).collect())}


# ------------------------------------------------------------------- loop
def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) this driver, its JVM and the Python
    workers have used so far, exited workers included."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Loop:
    """Closed-loop op recorder: walls per phase, attempts and failures."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.t0 = time.perf_counter()
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def op(self, phase: str, fn, request=None):
        """Time one op; in a traced run it is a span named after its phase."""
        self.attempted += 1
        t, c = time.perf_counter(), cpu_s()
        out = self.ctx.traced(phase, fn, request)
        self.walls.setdefault(phase, []).append(time.perf_counter() - t)
        self.cpus.setdefault(phase, []).append(cpu_s() - c)
        return out

    def check(self, ok: bool, what: str) -> None:
        """An output check: a mismatch counts as one failed op."""
        if not ok:
            self.failed += 1
            self.ctx.log(f"check failed: {what}")

    def median(self, phase: str) -> float:
        return statistics.median(self.walls[phase])


def load_pages(ctx, n: int):
    """The data set-up: generate the pages and cache them as a DataFrame,
    ``SETUP_REPEATS`` times. Returns the median wall, the last cached frame
    (the earlier ones are released) and the pages' text bytes."""
    walls, docs = [], None
    for _ in range(SETUP_REPEATS):
        if docs is not None:
            docs.unpersist()
        t = time.perf_counter()
        rows = page_rows(ctx.inputs, 0, n)
        docs = cached(docs_frame(ctx.spark, rows))
        walls.append(time.perf_counter() - t)
    ctx.sample_texts = [text for _, text in rows[:64]]
    return statistics.median(walls), docs, sum(len(text.encode()) for _, text in rows)


# --------------------------------------------------------------- workloads
class Tree:
    """Set-up: the pages generated and cached as a DataFrame (timed, median
    of three) and the questions."""

    read_questions = 1

    def __init__(self, ctx):
        from raptor_rag_spark.config import ClusterTreeConfig

        self.ctx, self.size = ctx, SIZES["tree"]
        self.cfg = ClusterTreeConfig(**TREE_CONFIG)
        self.setup_s, self.docs, self.input_bytes = load_pages(ctx, self.size["pages"])
        self.singles = questions(ctx.inputs, "single", self.size["reads"])

    def one_pass(self, loop, k: int) -> dict:
        from raptor_rag_spark.api import RetrievalAugmentation
        from raptor_rag_spark.plans.build_tree import build_tree

        ctx = self.ctx
        ckpt = os.path.join(ctx.tmp, f"tree-{k}")
        tree = loop.op("ingest", lambda: build_tree(self.docs, self.cfg, ckpt))
        ra = RetrievalAugmentation(ctx.spark, self.cfg, tree=ckpt)
        reads = [loop.op("read", lambda: ra.retrieve(q), request=f"{k}/{i}")
                 for i, q in enumerate(self.singles)]
        return dict(tree=tree, facade=ra, reads=reads)

    def check(self, loop, out: dict, want: dict) -> None:
        loop.check(tree_signature(out["tree"]) == want["build"], "build signature")
        loop.check(missing_children(out["tree"]) == 0, "children exist one level down")
        loop.check(reads_signature(out["reads"]) == want["reads"],
                   "single questions' contexts and layer lists")

    def probe(self, out: dict):
        """A read for the tracing-overhead measurement."""
        return lambda: out["facade"].retrieve(self.singles[0])


class Search:
    """Set-up: the pages generated and cached as a DataFrame (timed, median
    of three), the delta and the queries."""

    def __init__(self, ctx):
        self.ctx, self.size = ctx, SIZES["search"]
        spark, inputs, size = ctx.spark, ctx.inputs, self.size
        self.setup_s, self.docs, self.input_bytes = load_pages(ctx, size["pages"])
        self.delta = docs_frame(spark, page_rows(inputs, size["pages"], size["delta"]))
        self.queries = query_frame(spark, questions(inputs, "search", size["queries"]))
        self.read_questions = size["queries"]

    def one_pass(self, loop, k: int) -> dict:
        from raptor_rag_spark.sources.searchindex import SearchIndex

        ctx = self.ctx
        index = SearchIndex(os.path.join(ctx.tmp, f"lake-{k}"))
        loop.op("ingest", lambda: index.build(self.docs))
        loop.op("update", lambda: index.add_documents(self.delta))
        fused = loop.op("read", lambda: battery(ctx.spark, index, self.queries), request=k)
        return dict(index=index, fused=fused)

    def check(self, loop, out: dict, want: dict) -> None:
        loop.check(ranks_signature(out["fused"]) == want["search"],
                   "appended index ranks == fresh index over the union")

    def probe(self, out: dict):
        """An append for the tracing-overhead measurement."""
        return lambda: out["index"].add_documents(self.delta)


def run_pass(wl) -> dict:
    """The timed loop: passes until ``--seconds`` have passed, at least one;
    then the untimed checks against the recorded signatures."""
    ctx = wl.ctx
    loop = Loop(ctx)
    ctx.loop_started()
    passes, outs = [], []
    while not passes or loop.elapsed() < ctx.seconds:
        t = time.perf_counter()
        outs.append(wl.one_pass(loop, len(passes)))
        passes.append(time.perf_counter() - t)
    measured_s = loop.elapsed()
    ctx.loop_done()
    ctx.log(f"loop done: {loop.walls}")

    want = recorded_table()[str(ctx.inputs)]
    for out in outs:
        wl.check(loop, out, want)
    metrics = dict(setup_s=ctx.session_s + wl.setup_s, pass_s=statistics.median(passes))
    state = dict(input_bytes=wl.input_bytes, read_questions=wl.read_questions,
                 passes=len(passes), probe=wl.probe(outs[0]))
    return dict(loop=loop, metrics=metrics, state=state, measured_s=measured_s)


WORKLOADS = {"tree": Tree, "search": Search}
