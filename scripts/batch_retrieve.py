"""Time a 200-question ``retrieve_batch`` over a tree of generated pages.

Usage:
    python scripts/batch_retrieve.py build TREE_DIR [PAGES]
    python scripts/batch_retrieve.py time TREE_DIR [QUESTIONS]

``build`` generates PAGES seeded pages (default 20000), builds the tile tree
with perfbench's tree config and writes it to TREE_DIR as parquet. ``time``
reads that tree back (cached), then for each retrieval mode (collapsed,
``collapse_tree="cell"``, traversal) collects the contexts of QUESTIONS
seeded questions (default 200) three times. It prints one JSON line: the
fastest wall per mode and a digest of the contexts, so two checkouts timed
on the same TREE_DIR can be compared run for run. Runs on
local[$SPARK_GRAFT_CPUS] (default: the host's core count).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TREE_CONFIG = dict(max_tokens=64, num_layers=3, max_resolution=8)
MODES = {"collapsed": True, "cell": "cell", "traversal": False}


def main() -> None:
    from pyspark.sql import functions as F

    from raptor_rag_spark.api import RetrievalAugmentation
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree
    from raptor_rag_spark.session import get_spark
    from raptor_rag_spark.sources.pages import VOCAB, generate_pages

    cmd, path = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else (20000 if cmd == "build" else 200)
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)))
    cfg = ClusterTreeConfig(**TREE_CONFIG)
    if cmd == "build":
        docs = generate_pages(spark, n).select(
            F.abs(F.hash("url")).cast("long").alias("doc_id"), "text"
        )
        t0 = time.perf_counter()
        build_tree(docs, cfg).write.mode("overwrite").parquet(path)
        print(json.dumps({"pages": n, "build_s": round(time.perf_counter() - t0, 2)}))
        return
    tree = spark.read.parquet(path).cache()
    out = {"nodes": tree.count(), "questions": n}
    rng = random.Random("batch-retrieve")
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5))) for _ in range(n)]
    questions = spark.createDataFrame(list(enumerate(texts)), "query_id long, qtext string")
    ra = RetrievalAugmentation(spark, cfg, tree=tree)
    for mode, collapse in MODES.items():
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = ra.retrieve_batch(questions, top_k=10, collapse_tree=collapse).collect()
            walls.append(time.perf_counter() - t0)
        digest = hashlib.md5(
            repr(sorted((r["query_id"], r["context"]) for r in rows)).encode()
        ).hexdigest()[:12]
        out[mode] = {"min_s": round(min(walls), 2), "walls": [round(w, 2) for w in walls],
                     "rows": len(rows), "digest": digest}
        print(json.dumps({mode: out[mode]}), file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
