"""Seeded benchmark of the tile-tree engine.

    python3 perfbench/run.py --workload {tree,search} --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It starts one Spark driver at local[4],
makes the workload's inputs from the seed, runs the workload's closed loop
for at least S seconds, checks every output, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the workload's end-to-end metrics. With
``--trace 1`` the same run records spans around the engine's layers and
reports the per-layer metrics instead, plus the tracing overhead measured
on a probe call after the loop; its own end-to-end metrics go into the
environment record, the line printed before the result, to be set against
an untraced run of the same seed.

Everything the run writes (Spark local dirs, warehouse, tree checkpoint,
lake table, event log, temp files) lives under ``.perfbench_tmp/`` in the
checkout and is deleted before exit. The trace's span table is written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
T0 = time.perf_counter()
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over this driver, the
    JVM it launched and the Python workers under it."""
    total_kb = 0
    for pid in workloads.process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop(spark) -> None:
    """Stop Spark, end the JVM it launched and wait until the JVM and every
    process under it (the Python worker daemon and workers) have exited."""
    from pyspark import SparkContext

    below = workloads.process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = []
        for pid in below:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        below = alive
        time.sleep(0.1)
    log(f"processes still running after stop: {below}")


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


class Context:
    """What a workload gets: the session, seed, run length, scratch dir and,
    in a traced run, the tracer, which records spans between
    ``loop_started`` and ``loop_done``."""

    def __init__(self, spark, seed, seconds, tmp, tracer, session_s):
        self.spark, self.seed, self.seconds, self.tmp = spark, seed, seconds, tmp
        self.inputs = workloads.input_set(seed)
        self.tracer, self.session_s = tracer, session_s
        self.sample_texts: list[str] = []
        self.log = log

    def traced(self, name: str, fn, request=None):
        """Run ``fn`` inside a span named ``name`` when tracing."""
        if self.tracer is None or not self.tracer.enabled:
            return fn()
        with self.tracer.span(name, request):
            return fn()

    def loop_started(self) -> None:
        """Record spans from here on, in a traced run."""
        if self.tracer is not None:
            self.tracer.enabled = True

    def loop_done(self) -> None:
        """Stop recording spans: what follows a timed loop is untimed."""
        if self.tracer is not None:
            self.tracer.enabled = False


def start_session(tmp: str, trace: bool):
    t0 = time.perf_counter()
    from raptor_rag_spark.session import get_spark, warm_python_workers

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.python.daemon.module": "perfbench.worker_daemon",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": events,
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    t = time.perf_counter()
    warm_python_workers(spark, tasks_per_core=1)
    warm_s = time.perf_counter() - t
    log(f"session start {start_s:.1f} s, worker warm-up {warm_s:.1f} s")
    return spark, start_s, warm_s


def environment(spark, tmp: str) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "master": conf.get("spark.master"),
        "spark.task.cpus": conf.get("spark.task.cpus", "1"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory", "default"),
        "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS"),
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "files_fs": fs_type(tmp),
        "fsync": "none: parquet writes, manifests and lake commits are not fsynced",
    }


def overhead_frac(tracer, probe, pairs: int = 2) -> float:
    """Tracing overhead: the workload's probe call (a wrapped engine call
    that writes nothing the checks read), run after the loop alternately
    untraced and traced; the median traced wall over the median untraced
    wall, minus 1. One untimed call first warms the path."""
    import statistics

    probe()
    walls: dict[bool, list[float]] = {False: [], True: []}
    for i in range(2 * pairs):
        tracer.enabled = i % 2 == 1
        t = time.perf_counter()
        probe()
        walls[tracer.enabled].append(time.perf_counter() - t)
    tracer.enabled = False
    return statistics.median(walls[True]) / statistics.median(walls[False]) - 1


def run(args, tmp: str) -> dict:
    import layers
    from tracing import Tracer, read_event_log

    trace = bool(args.trace)
    spark, start_s, warm_s = start_session(tmp, trace)
    try:
        tracer = Tracer(spark.sparkContext) if trace else None
        if tracer:
            layers.install(tracer, args.workload)
        ctx = Context(spark, args.seed, args.seconds, tmp, tracer, start_s + warm_s)
        wl = workloads.WORKLOADS[args.workload](ctx)
        log("set-up done")
        res = workloads.run_pass(wl)
        loop = res["loop"]
        metrics = res["metrics"]
        env = environment(spark, tmp)
        env["peak_rss_mb"] = peak_rss_mb()
        values = metrics
        if trace:
            # jobs from here on belong to no span; flush the event log first
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", "trace.after")
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = read_event_log(os.path.join(tmp, "events"))
            values = {
                "session.start_s": start_s,
                "session.warm_workers_s": warm_s,
                "session.peak_rss_mb": env["peak_rss_mb"],
                **layers.kernel_rates(ctx.sample_texts),
                **layers.layer_metrics(tracer, jobs, loop, res["state"]),
            }
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tracer.spans_table(jobs), f)
            values["trace.overhead_frac"] = overhead_frac(tracer, res["state"]["probe"])
            env.update(traced_run_metrics=metrics, tracer_bookkeeping_s=tracer.bookkeeping_s,
                       spans_by_name=layers.by_name(tracer, jobs))
            tracer.restore()
    finally:
        stop(spark)

    names = workloads.PER_LAYER if trace else workloads.END_TO_END
    unit = workloads.layer_unit if trace else workloads.UNITS.__getitem__
    env.update(
        workload=args.workload, seed=args.seed, input_set=ctx.inputs,
        measured_s=res["measured_s"],
        samples={k: len(v) for k, v in loop.walls.items()},
        walls=loop.walls, cpus=loop.cpus,
        ops_failed_frac=loop.failed / loop.attempted,
    )
    print(json.dumps({"env": env}), flush=True)
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {n: {"value": values[n], "unit": unit(n)} for n in names},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
