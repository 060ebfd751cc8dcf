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


SCRATCH_PROBE = """
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from raptor_rag_spark.plans import contract
from raptor_rag_spark.session import get_spark

vecs = np.random.default_rng(3).standard_normal((40, 64)).astype(np.float32)
pq.write_table(
    pa.table({"vec_id": np.arange(40), "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
    sys.argv[1] + "/embeddings.parquet",
)
spark = get_spark(cores=2)
contract.QUERIES["tile_incremental"](spark, sys.argv[1]).count()
print(contract._SCRATCH_ROOT[0].name)
"""


def test_registry_query_tables_are_removed_at_exit(tmp_path):
    """A registry query that keeps lake tables (``tile_incremental``) puts
    them under one per-process root in the temp dir, and that root is gone
    once the process exits."""
    tmp, sf = tmp_path / "tmp", tmp_path / "sf"
    tmp.mkdir()
    sf.mkdir()
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", SCRATCH_PROBE, str(sf)],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp)
    assert list(tmp.iterdir()) == []


def test_contract_modules_import_in_either_order():
    """The registry's spatial twins import on their own, in a fresh process,
    before or after the registry itself, and give the registry the same
    queries either way."""
    probe = (
        "import importlib, sys\n"
        "first = importlib.import_module(sys.argv[1])\n"
        "from raptor_rag_spark.plans import contract\n"
        "print(len(contract.QUERIES), contract.COMPACT_RES)\n"
    )
    env = dict(os.environ, PYTHONPATH=ROOT)
    outs = [
        subprocess.run(
            [sys.executable, "-c", probe, f"raptor_rag_spark.plans.{first}"],
            cwd=ROOT, env=env, capture_output=True, text=True, check=True,
        ).stdout
        for first in ("contract_spatial", "contract")
    ]
    assert outs[0] == outs[1] and outs[0].split()[1] == "4", outs
