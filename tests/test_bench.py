"""The bench timer's legs stay registry queries, and importing it is cheap."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
import bench
from pyspark import SparkContext
print(json.dumps({
    "legs": bench.LEGS,
    "marginal": bench.MARGINAL,
    "density": bench.DENSITY_LEG,
    "queries": sorted(bench.QUERIES),
    "oracles": sorted(bench.ORACLES),
    "spark": SparkContext._active_spark_context is not None or SparkContext._gateway is not None,
}))
"""


def test_bench_legs_are_registry_queries_and_import_starts_no_spark():
    """Every leg names a registry query with an oracle twin, so a registry
    rename fails here instead of breaking the bench, and every marginal leg
    is also timed at 1x. Importing bench.py (in a fresh process, from
    another directory) starts no JVM or session."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd="/", env=env, capture_output=True, text=True, check=True
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert not got["spark"]
    assert len(set(got["legs"])) == len(got["legs"])
    assert set(got["marginal"]) <= set(got["legs"])
    assert set(got["legs"] + [got["density"]]) <= set(got["queries"]) & set(got["oracles"])
