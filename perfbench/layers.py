"""Per-layer metrics of a traced run.

Which engine functions get a span, and how each layer metric is derived from
the spans and the Spark event log. Every workload reports the same names:

* ``session`` and ``kernels``: measured directly (session start, worker
  warm-up, and driver calls to the Python kernels on the workload's pages);
* ``operators`` and ``sources``: the engine packages, summed over the
  wrapped functions of each (self time, and the Spark work their own job
  groups ran), per pass of the workload;
* ``ingest`` and ``read``: the wall, the CPU time and the Spark work each
  phase's ops ran, the median over the ops of the phase, the read ones per
  question.
"""

from __future__ import annotations

import statistics
import time

from workloads import TREE_CONFIG


def install(tracer, workload: str) -> None:
    """Wrap the engine functions of ``workload``'s layers."""
    if workload == "tree":
        from raptor_rag_spark import api
        from raptor_rag_spark.plans import build_tree as bt
        from raptor_rag_spark.sources.checkpoint import TreeCheckpoint

        tracer.wrap(bt, "leaf_nodes", "operators", materialize=True)
        tracer.wrap(bt, "build_parent_nodes", "operators", materialize=True)
        tracer.wrap(api, "with_embedding", "operators")
        tracer.wrap(api, "collapsed_knn", "operators")
        tracer.wrap(api, "retrieval_context", "operators")
        tracer.wrap(TreeCheckpoint, "write_level", "sources")
    else:
        from raptor_rag_spark.operators import ranking
        from raptor_rag_spark.sources import searchindex
        from raptor_rag_spark.sources.lakehouse import LakeTable
        from raptor_rag_spark.sources.searchindex import SearchIndex

        tracer.wrap(searchindex, "bm25_index", "operators", materialize=True)
        tracer.wrap(ranking, "index_stats", "operators")
        tracer.wrap(ranking, "bm25_rank", "operators", materialize=True)
        tracer.wrap(ranking, "ql_rank", "operators", materialize=True)
        tracer.wrap(ranking, "rrf_fuse", "operators", materialize=True)
        tracer.wrap(SearchIndex, "postings", "sources")
        tracer.wrap(LakeTable, "_write_files", "sources")
        tracer.wrap(LakeTable, "_commit", "sources")


def kernel_rates(texts: list[str]) -> dict:
    """Direct driver calls to the three Python kernels on the workload's own
    page sample; each rate is the median of three passes."""
    from raptor_rag_spark.kernels.chunker import split_text
    from raptor_rag_spark.kernels.embedder import embed_texts
    from raptor_rag_spark.kernels.summarize import extractive_summary, get_text

    def rate(n, fn):
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        return n / statistics.median(walls)

    mt = TREE_CONFIG["max_tokens"]
    chunks = [c for t in texts for c in split_text(t, max_tokens=mt)]
    groups = [get_text(chunks[i : i + 4]) for i in range(0, len(chunks), 4)]
    return {
        "kernels.split_text.chunks_per_s": rate(
            len(chunks), lambda: [split_text(t, max_tokens=mt) for t in texts]
        ),
        "kernels.embed_texts.rows_per_s": rate(len(chunks), lambda: embed_texts(chunks)),
        "kernels.extractive_summary.groups_per_s": rate(
            len(groups), lambda: [extractive_summary(g, 100) for g in groups]
        ),
    }


def own(span: dict, jobs: dict, field: str) -> float:
    """A Spark number of the jobs run in ``span``'s own job group."""
    return jobs.get(span["group"], {}).get(field, 0)


def layer_metrics(tracer, jobs: dict, loop, state: dict) -> dict:
    out = {}
    passes = state["passes"]
    for layer, field in (("operators", "task_s"), ("sources", "jobs")):
        spans = tracer.layer(layer)
        out[f"{layer}.self_s"] = sum(tracer.self_time(s) for s in spans) / passes
        out[f"{layer}.{field}"] = sum(own(s, jobs, field) for s in spans) / passes

    def phase(name: str, fields, per: float = 1.0) -> dict:
        spans = tracer.named(name)
        totals = [tracer.spark(s, jobs) for s in spans]
        return {f: statistics.median(t[f] for t in totals) / per for f in fields} | {
            "wall_s": statistics.median(tracer.wall(s) for s in spans)
        }

    ingest = phase("ingest", ("jobs", "tasks", "task_s", "gc_ms", "shuffle_write_bytes",
                              "output_bytes"))
    ingest["bytes_per_input_byte"] = ingest.pop("output_bytes") / state["input_bytes"]
    read = phase("read", ("jobs", "tasks", "task_s", "shuffle_read_bytes",
                          "shuffle_write_bytes"), per=state["read_questions"])
    out.update({f"ingest.{k}": v for k, v in ingest.items()})
    per_q = state["read_questions"]
    out.update({
        "ingest.cpu_s": statistics.median(loop.cpus["ingest"]),
        "read.wall_s_per_q": statistics.median(loop.walls["read"]) / per_q,
        "read.cpu_s_per_q": statistics.median(loop.cpus["read"]) / per_q,
        "read.jobs_per_q": read["jobs"],
        "read.tasks_per_q": read["tasks"],
        "read.task_s_per_q": read["task_s"],
        "read.shuffle_bytes_per_q": read["shuffle_read_bytes"] + read["shuffle_write_bytes"],
    })
    return out


def by_name(tracer, jobs: dict) -> dict:
    """Calls, wall, self time and own Spark work per span name: the
    function-level split behind the layer metrics."""
    out: dict[str, dict] = {}
    for s in tracer.spans:
        row = out.setdefault(s["name"], dict(calls=0, wall_s=0.0, self_s=0.0, jobs=0, tasks=0,
                                             task_s=0.0, shuffle_write_bytes=0))
        row["calls"] += 1
        row["wall_s"] += tracer.wall(s)
        row["self_s"] += tracer.self_time(s)
        for f in ("jobs", "tasks", "task_s", "shuffle_write_bytes"):
            row[f] += own(s, jobs, f)
    return out
