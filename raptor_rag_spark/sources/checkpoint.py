"""Manifest-based level checkpoints with resume.

Iceberg's runtime jar is not bundled with the sandbox pyspark (SURVEY.md
§4.2), so checkpoints are parquet directories with an atomic JSON manifest
per level: ``rows`` observed on the write itself (one Spark job per commit),
rows per written part file keyed by the write task's partition id (from the
parquet footers, no job), ``wall_ms``, and the ``schema``, so reads skip
parquet schema inference (a job per read; manifests of older builds without
one still load through it). Hot cells come from ``rollup.tile_stats``. The
API is Iceberg-shaped: each level write is one atomic commit (manifest
written via tmp-file + rename, which is atomic on POSIX), a killed job
resumes from ``max(committed level)``, and re-running a committed level is
a no-op. Opening a checkpoint creates nothing on disk; only writes do.

Reference role: the pickle save/load + config-keyed cache + incremental
progress tracker (raptor/retrieval_augmentation.py:234-239,
benchmarks/_tree_cache.py:27-51, benchmarks/_progress.py:24-48), upgraded to
per-level atomic commits.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class LevelManifest:
    level: int
    rows: int
    partitions: list[dict] = field(default_factory=list)
    wall_ms: int = 0
    schema: dict | None = None
    committed: bool = True
    extra: dict = field(default_factory=dict)


class TreeCheckpoint:
    def __init__(self, base_dir: str, config_hash: str | None = None):
        """``config_hash`` keys the checkpoint to one build config (reference
        benchmarks/_tree_cache.py:27-51): the first write records it; opening
        the same dir under a different hash raises instead of silently mixing
        two configs' levels in one tree."""
        self.base_dir = base_dir
        self.manifest_dir = os.path.join(base_dir, "_manifests")
        self.config_hash = config_hash
        existing = self._read_meta()
        if config_hash is not None:
            if existing is None:
                self._write_meta({"config_hash": config_hash})
            elif existing.get("config_hash") != config_hash:
                raise ValueError(
                    f"checkpoint at {base_dir} was written with a different config "
                    f"(hash {existing.get('config_hash')!r} != {config_hash!r}); "
                    "use a fresh checkpoint_dir or the original config"
                )

    def _meta_path(self) -> str:
        return os.path.join(self.manifest_dir, "config.json")

    def _read_meta(self) -> dict | None:
        if not os.path.exists(self._meta_path()):
            return None
        with open(self._meta_path()) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path())

    def mark_complete(self, num_levels: int) -> None:
        """Record that the build finished: load-or-build can then skip every
        job on a config-hash match (reference _tree_cache skip-if-exists)."""
        meta = self._read_meta() or {}
        meta.update({"complete": True, "num_levels": num_levels})
        if self.config_hash is not None:
            meta["config_hash"] = self.config_hash
        self._write_meta(meta)

    def is_complete(self) -> bool:
        """True only when the complete marker AND every recorded level are
        still present — losing a level (partial wipe) degrades to resume."""
        meta = self._read_meta()
        if not meta or not meta.get("complete"):
            return False
        n = meta.get("num_levels")
        return n is not None and len(self.committed_levels()) >= n

    # ---------------------------------------------------------------- paths
    def level_dir(self, level: int) -> str:
        return os.path.join(self.base_dir, f"level={level}")

    def _manifest_path(self, level: int) -> str:
        return os.path.join(self.manifest_dir, f"level_{level}.json")

    # ---------------------------------------------------------------- write
    def write_level(self, df: DataFrame, level: int, extra: dict | None = None) -> LevelManifest:
        """Write one level partition + manifest in one Spark job. Atomic
        commit: the manifest rename is the commit point; data without
        manifest = dirty."""
        t0 = time.monotonic()
        out = self.level_dir(level)
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(out)
        manifest = LevelManifest(
            level=level,
            rows=rows.get["rows"],
            partitions=_part_file_rows(out),
            wall_ms=int((time.monotonic() - t0) * 1000),
            schema=df.schema.jsonValue(),
            extra=extra or {},
        )
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = self._manifest_path(level) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest.__dict__, f)
        os.replace(tmp, self._manifest_path(level))  # atomic commit point
        return manifest

    # ---------------------------------------------------------------- read
    def committed_levels(self) -> list[int]:
        out = []
        if not os.path.isdir(self.manifest_dir):
            return out
        for name in os.listdir(self.manifest_dir):
            if name.startswith("level_") and name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    m = json.load(f)
                if m.get("committed"):
                    out.append(int(m["level"]))
        return sorted(out)

    def manifest(self, level: int) -> dict | None:
        path = self._manifest_path(level)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def read_level(self, spark: SparkSession, level: int) -> DataFrame:
        """A committed level, read with its manifest's schema (no Spark job);
        a manifest from an older build without one falls back to inference."""
        schema = (self.manifest(level) or {}).get("schema")
        reader = spark.read.schema(StructType.fromJson(schema)) if schema else spark.read
        return reader.parquet(self.level_dir(level)).withColumn("level", F.lit(level))

    def read_all(self, spark: SparkSession) -> DataFrame:
        levels = self.committed_levels()
        if not levels:
            raise FileNotFoundError(f"no committed levels under {self.base_dir}")
        df = self.read_level(spark, levels[0])
        for lv in levels[1:]:
            df = df.unionByName(self.read_level(spark, lv))
        return df

    def resume_level(self) -> int:
        """First level that still needs building (= max committed + 1)."""
        levels = self.committed_levels()
        return (levels[-1] + 1) if levels else 0


def _part_file_rows(out: str) -> list[dict]:
    """Rows per parquet part file under ``out``, keyed by the write task's
    partition id (``part-<id>-...``), from the footers alone."""
    return [
        {"partition_id": int(name.split("-")[1]), "file": name,
         "rows": pq.read_metadata(os.path.join(out, name)).num_rows}
        for name in sorted(os.listdir(out))
        if name.startswith("part-")
    ]
