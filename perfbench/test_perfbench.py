"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``.

The signature test starts Spark twice (local[2], then local[4]) on a tiny
input and takes about a minute.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_end_to_end_names_match_benchmark_json():
    emitted = {n: workloads.UNITS[n] for n in workloads.END_TO_END}
    assert emitted == _declared("end_to_end")


def test_per_layer_names_match_benchmark_json():
    emitted = {n: workloads.layer_unit(n) for n in workloads.PER_LAYER}
    assert emitted == _declared("per_layer")


def test_workloads_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [w["name"] for w in json.load(f)["workloads"]]
    assert declared == list(workloads.WORKLOADS) == list(workloads.SIZES)


def test_inputs_depend_only_on_seed():
    table = workloads.recorded_table()
    assert sorted(map(int, table)) == list(range(len(table)))
    assert workloads.input_set(3) == 3
    assert workloads.input_set(3 + len(table)) == 3
    assert workloads.questions(3, "batch", 5) == workloads.questions(3, "batch", 5)
    assert workloads.questions(3, "batch", 5) != workloads.questions(4, "batch", 5)
    rows = workloads.page_rows(3, 0, 2)
    assert [i for i, _ in rows] == [30_000_000, 30_000_001]


def _signatures(cores: int, tmp: str, monkeypatch) -> dict:
    from raptor_rag_spark.session import get_spark

    for name in workloads.SIZES:
        monkeypatch.setitem(workloads.SIZES, name,
                            dict(workloads.SIZES[name], pages=40, queries=3))
    spark = get_spark("perfbench-test", cores=cores, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    try:
        return {**workloads.reference_trees(spark, inputs=5),
                **workloads.reference_ranks(spark, inputs=5)}
    finally:
        spark.stop()


def test_signatures_equal_at_local2_and_local4(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    two = _signatures(2, str(tmp_path), monkeypatch)
    four = _signatures(4, str(tmp_path), monkeypatch)
    assert two == four
    assert set(two) == {"build", "reads", "search"}
