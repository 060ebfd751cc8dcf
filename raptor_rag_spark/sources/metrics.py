"""Metrics-table sink: append-only run/level metrics with resume support.

Reference role: ProgressTracker's incremental `.partial.json` + final results
JSON (benchmarks/_progress.py:24-58), upgraded to a distributed append-only
parquet table — the "final results sink" (S8) plus the per-question resume
surface (S5): completed keys are read back and anti-joined against pending
work. Each append writes one new parquet file from the driver (pyarrow, no
Spark job) under a ``_``-prefixed name that readers skip, then renames it
into place, so concurrent/killed writers can't corrupt committed history;
readers see whole files only.

On a cluster this is an Iceberg `metrics` table (atomic snapshot commits);
the parquet-append fallback keeps the same API (SURVEY.md §4.2).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "run_id STRING, kind STRING, key STRING, rows BIGINT, wall_ms BIGINT, extra STRING"
)
_ARROW_TYPES = {"STRING": pa.string(), "BIGINT": pa.int64()}
_ARROW_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[kind]) for name, kind in (f.split() for f in METRICS_SCHEMA.split(", "))]
)


class MetricsTable:
    def __init__(self, table_dir: str):
        self.table_dir = table_dir

    def append(self, spark: SparkSession, records: list[dict]) -> None:
        """Append metric rows (one file commit). Missing fields default to
        NULL. ``spark`` is unused: the file is written on the driver."""
        if not records:
            return
        table = pa.Table.from_pylist(records, schema=_ARROW_SCHEMA)
        os.makedirs(self.table_dir, exist_ok=True)
        name = f"{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.table_dir, f"_tmp-{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.table_dir, f"part-{name}"))

    def append_df(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.table_dir)

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(METRICS_SCHEMA).parquet(self.table_dir)

    def completed_keys(self, spark: SparkSession, kind: str) -> DataFrame:
        """(key) rows already recorded for ``kind`` — the resume set."""
        if not os.path.isdir(self.table_dir):
            return spark.createDataFrame([], "key string")
        return (
            self.load(spark).filter(F.col("kind") == kind).select("key").distinct()
        )

    def resume_filter(self, pending: DataFrame, spark: SparkSession, kind: str, key_col: str) -> DataFrame:
        """Drop work whose key is already recorded (anti-join — the S5 resume
        shape, reference _progress.py:35-39 is_done)."""
        done = self.completed_keys(spark, kind).withColumnRenamed("key", key_col)
        return pending.join(done, key_col, "left_anti")
