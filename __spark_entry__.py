"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pipeline (tile-tree build over sf0.001 documents →
cell-pruned kNN retrieval). ``queries``/``oracle_sql`` expose every operator
from SURVEY.md §2 as (PySpark, DuckDB) twins — see
raptor_rag_spark/plans/contract.py for the implementations and the exactness
rules (decimal sums, twin IEEE expression order, string-formatted timestamps).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from raptor_rag_spark.plans import contract  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: build the tile tree over the
    documents table, then run cell-pruned kNN retrieval for three queries."""
    return contract.q_tree_cell_knn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(contract.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(contract.ORACLES)
