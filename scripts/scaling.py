"""N vs 4N scaling study for the flagship build, the search stack and the lakehouse.

No real cluster exists here, so the same job runs at local[N] and local[4N]
(a fresh JVM per session, via subprocess) on the SAME input: a parquet table
of deterministic synthetic Common-Crawl pages, written once outside the
timed job (it plays the Iceberg input table). Each session runs every leg at
two input sizes back to back, so both walls sample the same host phase (the
host drifts 2-3x on a minutes timescale). Throughput is that session's
marginal rate Δpages/Δwall, which removes the fixed per-job cost (JVM start,
stage barriers) that a 10^12-doc job amortizes to ~0. Sessions alternate
between the core counts REPEATS times, and per (cores, leg) the session with
the smallest pair wall is kept (noise only ever adds time). Every leg
returns an order-insensitive output signature that must be identical
across sessions, core counts and repeats.

Legs (``LEGS``):
  flagship  read pages → chunk+embed (Arrow UDF) → xy → cell → 3-level salted
            tile rollup; signature over every (node_id, cell_id, token_count)
  search    postings build + BM25 + Dirichlet-QL + RRF fusion, statistics
            shared once (``index_stats``); signature over the fused top-k
  lake      z-ordered 64-file lakehouse write of LAKE_PTS_PER_PAGE points
            per page (from url hashes, no embedding pass) + a bbox scan

Usage:
  python scripts/scaling.py [leg ...]                      # study → BENCH.md section
  python scripts/scaling.py --run-one CORES LO HI [leg ...]  # one session → JSON

$SCALING_PAGES sets the smaller input size (the larger is 4x), $SCALING_CORES
sets N. All legs run when none is named.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_PAGES = int(os.environ.get("SCALING_PAGES", "250000"))
N_SMALL = int(os.environ.get("SCALING_CORES", "2"))
N_BIG = 4 * N_SMALL
REPEATS = 3
# at 1 point per page the lake write is fixed-cost dominated even at 1M
# pages and the marginal rate degenerates; 16 makes the write the cost
LAKE_PTS_PER_PAGE = 16


def input_path(n_pages: int) -> str:
    return f"/tmp/scaling_pages_{n_pages}.parquet"


def materialize_input(n_pages: int) -> None:
    """Write the deterministic page table once; not part of the measured job."""
    if os.path.exists(input_path(n_pages)):
        return
    from raptor_rag_spark.session import get_spark
    from raptor_rag_spark.sources.pages import generate_pages

    spark = get_spark("scaling-gen", cores=N_BIG)
    spark.sparkContext.setLogLevel("ERROR")
    generate_pages(spark, n_pages, partitions=64).write.mode("overwrite").parquet(
        input_path(n_pages)
    )
    spark.stop()


def signature(df, parts, sums=()) -> list[int]:
    """[rows, Σ portable hash of the '|'-joined parts, Σ each of sums]:
    independent of row order and partitioning."""
    from pyspark.sql import functions as F

    from raptor_rag_spark.functions import sqlgen as G

    h = G.hash63_col(F.concat_ws("|", *parts))
    aggs = [F.count("*"), *(F.sum(c.cast("decimal(38,0)")) for c in (h, *sums))]
    return [int(v or 0) for v in df.agg(*aggs).collect()[0]]


def flagship(spark, pages) -> list[int]:
    from pyspark.sql import functions as F

    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree

    docs = pages.select(F.col("url").alias("doc_id"), "text")
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=3, max_resolution=8)
    tree = build_tree(docs, cfg, id_col="doc_id")
    cols = [F.col(c) for c in ("node_id", "cell_id", "token_count")]
    return signature(tree, cols, sums=[F.col("cell_id")])


def search(spark, pages) -> list[int]:
    from pyspark.sql import functions as F

    from raptor_rag_spark.operators.ranking import (
        bm25_index,
        bm25_rank,
        index_stats,
        ql_rank,
        rrf_fuse,
    )
    from raptor_rag_spark.plans.contract import QUERY_TEXTS

    docs = pages.select(F.col("url").alias("doc_id"), "text")
    bq = spark.createDataFrame(
        [(i, t) for i, t in enumerate(QUERY_TEXTS)], "query_id int, qtext string"
    )
    postings = bm25_index(docs).localCheckpoint(eager=True)
    stats = index_stats(postings)
    a = bm25_rank(None, bq, top_k=10, max_df_ratio=(9, 10), postings=postings, shared=stats)
    b = ql_rank(None, bq, top_k=10, postings=postings, shared=stats)
    fused = rrf_fuse(a, b, top_k=10)
    return signature(fused, [F.col("query_id"), F.col("doc_id"), F.round(F.col("score"), 9)])


def lake(spark, pages) -> list[int]:
    from pyspark.sql import functions as F

    from raptor_rag_spark.functions import sqlgen as G
    from raptor_rag_spark.sources.lakehouse import LakeTable

    k = F.explode(F.sequence(F.lit(0), F.lit(LAKE_PTS_PER_PAGE - 1))).alias("k")
    pid = F.concat_ws("|", F.col("url"), F.col("k"))
    h = G.hash63_col(pid)
    pts = pages.select("url", k).select(
        pid.alias("pid"),
        ((h % 1000000).cast("double") / 1000000.0).alias("x"),
        (((h / 1000000).cast("long") % 1000000).cast("double") / 1000000.0).alias("y"),
    )
    # tmpfs stands in for executor-local NVMe, as the shuffle dirs do
    # (session.get_spark): on one virtio disk the write measures the disk
    root = "/dev/shm/scale_lake" if os.path.isdir("/dev/shm") else None
    if root:
        os.makedirs(root, exist_ok=True)
    lake_dir = tempfile.mkdtemp(prefix="scale_lake_", dir=root)
    try:
        t = LakeTable(lake_dir, stats_cols=(LakeTable.ZKEY,))
        t.append_zordered(pts, res=8, n_files=64)
        return signature(t.scan_bbox(spark, 0.2, 0.3, 0.5, 0.6, res=8), [F.col("pid")])
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)


LEGS = {"flagship": flagship, "search": search, "lake": lake}


def run_one(cores: int, n_lo: int, n_hi: int, legs: list[str]) -> None:
    """One session: every leg at both sizes; prints one JSON line."""
    from raptor_rag_spark.session import get_spark, warm_python_workers

    spark = get_spark(f"scaling-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # worker spin-up is cluster provisioning, not job throughput
    warm_python_workers(spark)
    out = {"cores": cores, "runs": {}}
    for n_pages in (n_lo, n_hi):
        pages = spark.read.parquet(input_path(n_pages))
        run = out["runs"][str(n_pages)] = {}
        for leg in legs:
            t0 = time.time()
            sig = LEGS[leg](spark, pages)
            run[leg] = {"wall_s": round(time.time() - t0, 2), "sig": sig}
            spark.catalog.clearCache()
    print(json.dumps(out))


def launch(cores: int, n_lo: int, n_hi: int, legs: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run-one", str(cores), str(n_lo), str(n_hi),
         *legs],
        capture_output=True,
        text=True,
        check=True,
        timeout=5400,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def study(legs: list[str]) -> int:
    n_lo, n_hi = sizes = N_PAGES, 4 * N_PAGES
    for n in sizes:
        materialize_input(n)
    sessions: dict[int, list] = {N_SMALL: [], N_BIG: []}
    for rep in range(REPEATS):
        for cores in sessions:
            r = launch(cores, n_lo, n_hi, legs)
            sessions[cores].append(r)
            print(json.dumps({"rep": rep, **r}))
    runs = [r["runs"] for rs in sessions.values() for r in rs]
    match = all(
        len({json.dumps(r[str(n)][leg]["sig"]) for r in runs}) == 1 for n in sizes for leg in legs
    )

    def pair(r, leg):  # one session's walls at both sizes
        return [r["runs"][str(n)][leg]["wall_s"] for n in sizes]

    best = {c: {leg: pair(min(rs, key=lambda r: sum(pair(r, leg))), leg) for leg in legs}
            for c, rs in sessions.items()}

    def wall(c, n, leg):  # the fastest session's wall
        return best[c][leg][sizes.index(n)]

    def marginal(c, leg):  # pages/sec over the step from n_lo to n_hi, within that session
        return (n_hi - n_lo) / max(wall(c, n_hi, leg) - wall(c, n_lo, leg), 1e-9)

    eff = {leg: marginal(N_BIG, leg) / (4.0 * marginal(N_SMALL, leg)) for leg in legs}
    raw = {leg: wall(N_SMALL, n_hi, leg) / (4.0 * wall(N_BIG, n_hi, leg)) for leg in legs}
    print(json.dumps({
        "n_pages": list(sizes),
        "best_session_walls": {c: {n: {leg: wall(c, n, leg) for leg in legs} for n in sizes}
                               for c in sessions},
        "marginal_pages_per_sec": {c: {leg: round(marginal(c, leg), 1) for leg in legs}
                                   for c in sessions},
        "scaling_efficiency_marginal": {leg: round(v, 3) for leg, v in eff.items()},
        "scaling_efficiency_raw": {leg: round(v, 3) for leg, v in raw.items()},
        "exact_output_match": match,
    }))

    rows = "\n".join(
        f"| local[{c}] | {n:,} | " + " | ".join(str(wall(c, n, leg)) for leg in legs) + " |"
        for c in sessions
        for n in sizes
    )
    effs = "\n".join(
        f"  - {leg}: marginal local[{N_SMALL}] = {marginal(N_SMALL, leg):,.0f}, "
        f"local[{N_BIG}] = {marginal(N_BIG, leg):,.0f} pages/sec; "
        f"efficiency {eff[leg]:.3f} marginal, {raw[leg]:.3f} raw"
        for leg in legs
    )
    when = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = f"""

## Scaling study: {", ".join(legs)} at N vs 4N ({when})

`scripts/scaling.py`: local[{N_SMALL}] vs local[{N_BIG}], {n_lo:,} and {n_hi:,} pages,
{REPEATS} alternating sessions per core count; per (cores, leg) the session
with the smallest pair wall, and its marginal rate Δpages/Δwall between the two
sizes (target efficiency ≥ 0.8).

| parallelism | pages | {" | ".join(f"{leg} wall (s)" for leg in legs)} |
|---|---|{"---|" * len(legs)}
{rows}

- **Throughput and scaling efficiency:**
{effs}
- **Exact output match:** {"YES" if match else "NO"}: every leg's signature is
  identical across parallelism, repeats and sessions at both sizes.
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(md)
    return 0 if match else 1


def main() -> int:
    # run the checkout this file lives in, whatever the working directory: on
    # this process's path, and on the Python workers' and the sessions' it
    # launches (they inherit PYTHONPATH)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    args = sys.argv[1:]
    one = args[:1] == ["--run-one"]
    legs = args[4:] if one else args
    unknown = set(legs) - set(LEGS)
    if unknown:
        raise SystemExit(f"unknown legs {sorted(unknown)}; choose from {list(LEGS)}")
    if not one:
        return study(legs or list(LEGS))
    sizes = int(args[2]), int(args[3])
    for n in sizes:
        materialize_input(n)
    run_one(int(args[1]), *sizes, legs or list(LEGS))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
