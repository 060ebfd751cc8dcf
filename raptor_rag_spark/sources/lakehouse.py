"""Snapshot-versioned lakehouse table — Iceberg semantics on plain parquet.

The north rule stores the corpus in "an Iceberg table of Common-Crawl-style
web pages" and checkpoints "per-partition lineage and metrics to Iceberg";
the sandbox pyspark bundles no Iceberg runtime jar (SURVEY.md §4.2), so this
module re-creates the three Iceberg properties the engine actually depends
on, from first principles, on parquet + JSON manifests:

1. **Atomic snapshot commits.** Every append/overwrite writes NEW immutable
   parquet files into ``data/`` and then commits ONE snapshot manifest via
   tmp-file + rename (atomic on POSIX). Readers only ever see a committed
   manifest's file list — a killed writer leaves orphan data files, never a
   torn table. ``current`` is a pointer file, re-pointed atomically.
2. **Time travel + rollback.** Snapshots form a parent chain; ``read`` takes
   ``snapshot_id`` (default: current), ``rollback`` re-points current to an
   ancestor without deleting anything, ``changes_between`` returns the rows
   appended between two snapshots (CDC reads = the files added since).
3. **Two-level metadata: manifest list → manifest files → data files.** Each
   commit writes its (file path, row_count, per-column min/max) entries into
   a separate manifest FILE under ``manifests/``; the snapshot JSON holds
   only the MANIFEST LIST — one reference per manifest, each carrying a
   per-manifest rollup (file count, row count, min/max per stats column).
   ``scan`` prunes DRIVER-SIDE in two stages: manifests whose rollup cannot
   intersect the predicate are never even opened, and only the surviving
   manifests' file entries are stats-checked — exactly Iceberg's
   snapshot → manifest-list → manifest → data-file planning path. The
   predicate is ALSO applied as a normal filter after the scan, so pruning
   is a pure optimization and can never change results (the `lake_scan`
   contract twin proves equality against a full-table oracle).

Scale notes: planning cost is O(manifest-list length + file entries in
SURVIVING manifests), never O(total files) and never O(snapshots) — the
manifest list is cumulative per snapshot, so reads do no ancestry walk, and
commits merge small manifests (bin-packing, Iceberg's ManifestMergeManager)
so the list stays bounded as commits accumulate. A snapshot's own per-commit
manifest is retained for CDC (``changes_between`` reads exactly the
``added_manifest`` chain). Data files are never rewritten or deleted by
commits; ``expire_snapshots`` is the explicit GC for snapshots, manifests,
and data files alike. Writers partition data by ``bucket_by`` (hash
buckets) so downstream equi-joins can co-locate.
"""

from __future__ import annotations

import json
import os
import pathlib
import time
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflictError(RuntimeError):
    """Another writer committed since this operation's base snapshot was
    read (Iceberg's CommitFailedException role): the operation derived its
    rows from a snapshot that is no longer current, so publishing it would
    silently drop the concurrent writer's files. Recompute from the new
    base and retry (``merge``/``compact`` do this automatically)."""


_NO_PARENT_CHECK = object()


def zranges_for_bbox(
    xlo: float, xhi: float, ylo: float, yhi: float, res: int
) -> list[tuple[int, int]]:
    """Contiguous Morton-key intervals covering the bbox (coords in [0,1],
    inclusive bounds): recursive quadtree descent — a quadrant fully inside
    the bbox (or at leaf resolution) contributes its whole key interval,
    a disjoint quadrant contributes nothing, a straddling quadrant splits.
    Adjacent intervals merge, so typical bboxes yield a handful of ranges.
    Pure driver-side arithmetic over 4^res keyspace METADATA — never touches
    data. Bit order matches operators.layout.zorder_key_col (ix odd bits)."""
    out: list[tuple[int, int]] = []

    def rec(depth: int, m: int, cx: float, cy: float, size: float) -> None:
        if cx > xhi or cy > yhi or cx + size <= xlo or cy + size <= ylo:
            return  # disjoint (cell max is exclusive)
        full = xlo <= cx and cx + size <= xhi and ylo <= cy and cy + size <= yhi
        if full or depth == res:
            shift = 2 * (res - depth)
            out.append((m << shift, ((m + 1) << shift) - 1))
            return
        h = size / 2.0
        for dx in (0, 1):
            for dy in (0, 1):
                rec(depth + 1, (m << 2) | (dx << 1) | dy, cx + dx * h, cy + dy * h, h)

    rec(0, 0, 0.0, 0.0, 1.0)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def _footer_min_max(meta: pq.FileMetaData, col: str) -> list:
    """[min, max] of top-level column ``col`` over a file's row groups from
    the footer statistics; [None, None] when unknown or all null."""
    rgs = [meta.row_group(i) for i in range(meta.num_row_groups)]
    j = next(k for k in range(rgs[0].num_columns) if rgs[0].column(k).path_in_schema == col)
    lo = hi = None
    for rg in rgs:
        st = rg.column(j).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
            return [None, None]  # non-null values without statistics
    return [lo, hi]


class LakeTable:
    """A directory-backed snapshot-versioned table.

    Layout::

        <root>/data/<uuid>.parquet/        one immutable file-set per commit
        <root>/manifests/m-<uuid>.json     manifest files: [(path, rows, stats)]
        <root>/snapshots/<id>.json         snapshot: manifest LIST (refs+rollups)
        <root>/current                     pointer to the current snapshot id

    ``merge_threshold`` bounds the manifest list: when a commit would push the
    list past it, the smallest manifests are bin-packed into one merged
    manifest file (rollups recomputed), so planning cost stays O(threshold +
    large manifests) no matter how many commits accumulate.
    """

    def __init__(
        self, root: str, stats_cols: tuple[str, ...] = (), merge_threshold: int = 8
    ):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.snap_dir = os.path.join(root, "snapshots")
        self.manifest_dir = os.path.join(root, "manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        self.stats_cols = tuple(stats_cols)
        self.merge_threshold = merge_threshold

    # ------------------------------------------------------------- manifests
    def _current_path(self) -> str:
        return os.path.join(self.root, "current")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.snap_dir, f"{snapshot_id}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """All committed snapshots, oldest first."""
        ids = sorted(
            int(n[:-5]) for n in os.listdir(self.snap_dir) if n.endswith(".json")
        )
        return [self.snapshot(i) for i in ids]

    def history(self) -> list[dict]:
        """The ancestry chain of the CURRENT snapshot, oldest first —
        rollback re-points current, so orphaned branches drop out here."""
        sid = self.current_snapshot_id()
        chain: list[dict] = []
        while sid is not None:
            snap = self.snapshot(sid)
            chain.append(snap)
            sid = snap["parent_id"]
        return list(reversed(chain))

    # ----------------------------------------------- manifest files (2-level)
    def _manifest_entries(self, ref: dict) -> list[dict]:
        """File entries of one manifest ref — opened ONLY after the ref's
        rollup survives pruning."""
        with open(os.path.join(self.root, ref["manifest"])) as f:
            return json.load(f)["entries"]

    def _rollup(self, entries: list[dict]) -> dict:
        """Per-manifest min/max rollup over the file entries. A column where
        any file lacks stats (all-null file) rolls up to None = unprunable on
        that column — pruning must stay result-neutral."""
        stats: dict = {}
        for c in self.stats_cols:
            per = [e["stats"].get(c) for e in entries]
            if any(s is None or s[0] is None for s in per):
                stats[c] = None
            else:
                stats[c] = [min(s[0] for s in per), max(s[1] for s in per)]
        return stats

    def _write_manifest(self, entries: list[dict]) -> dict:
        """Persist a manifest file; return its list-entry ref with rollup.
        The ref alone (count + rows + rollup) is all planning reads until the
        manifest survives pruning."""
        name = os.path.join("manifests", f"m-{uuid.uuid4().hex}.json")
        path = os.path.join(self.root, name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"entries": entries}, f)
        os.replace(tmp, path)
        return {
            "manifest": name,
            "files": len(entries),
            "rows": sum(e["rows"] for e in entries),
            "stats": self._rollup(entries),
        }

    def _merge_manifests(self, refs: list[dict]) -> list[dict]:
        """Bin-pack the manifest list back under ``merge_threshold``: the
        smallest manifests merge into one rewritten manifest file (Iceberg's
        ManifestMergeManager). Large manifests are left untouched, so merge
        work per commit is bounded by the small tail, not table size."""
        if len(refs) <= self.merge_threshold:
            return refs
        refs = sorted(refs, key=lambda r: r["files"])
        n_merge = len(refs) - self.merge_threshold + 1
        victims, keep = refs[:n_merge], refs[n_merge:]
        merged_entries: list[dict] = []
        for v in victims:
            merged_entries.extend(self._manifest_entries(v))
        return [self._write_manifest(merged_entries)] + keep

    def _live_files(self, snapshot_id: int) -> list[dict]:
        """(path, stats) entries visible at a snapshot: the snapshot's
        manifest list is already cumulative — one snapshot read plus its
        manifests, NO ancestry walk."""
        snap = self.snapshot(snapshot_id)
        files: list[dict] = []
        for ref in snap["manifest_list"]:
            files.extend(self._manifest_entries(ref))
        return files

    # ---------------------------------------------------------------- write
    def _collect_file_stats(self, path: str) -> list[dict]:
        """Per-parquet-file (rows, min/max of stats_cols) of a freshly
        written fileset, read driver-side from the parquet footers
        (``pyarrow.parquet.read_metadata``) — no Spark job, the same stats
        Iceberg manifests carry. A file's [min, max] folds its row groups'
        footer statistics; a column with no non-null value in the file, or
        a row group without statistics, gives [None, None] (unprunable).
        Files with 0 rows are left out; ``path`` is the part file's
        ``file:`` URI, the form ``input_file_name()`` reports."""
        out = []
        for name in sorted(os.listdir(path)):
            if not (name.startswith("part-") and name.endswith(".parquet")):
                continue
            f = os.path.abspath(os.path.join(path, name))
            meta = pq.read_metadata(f)
            if meta.num_rows == 0:
                continue
            stats = {c: _footer_min_max(meta, c) for c in self.stats_cols}
            out.append({"path": pathlib.Path(f).as_uri(), "rows": meta.num_rows, "stats": stats})
        return out

    @contextmanager
    def _commit_lock(self, timeout_s: float = 30.0, stale_s: float = 120.0):
        """Table-level commit mutex (a lock FILE created O_EXCL — atomic on
        every POSIX/object-store-fuse filesystem). Serializes the
        read-current → write-snapshot → swap-pointer critical section so the
        optimistic-concurrency check in _commit is race-free; locks older
        than ``stale_s`` (a writer killed mid-commit) are broken. Mirrors
        Iceberg's catalog-side atomic swap."""
        lock = os.path.join(self.root, "_commit.lock")
        deadline = time.time() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_s:
                        os.unlink(lock)
                        continue
                except OSError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock {lock} held past {timeout_s}s")
                time.sleep(0.05)
        try:
            yield
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    def _commit(
        self,
        operation: str,
        added: list[dict],
        extra: dict | None = None,
        expected_parent: object = _NO_PARENT_CHECK,
    ) -> int:
        with self._commit_lock():
            return self._commit_locked(operation, added, extra, expected_parent)

    def _commit_locked(
        self, operation: str, added: list[dict], extra: dict | None, expected_parent: object
    ) -> int:
        parent = self.current_snapshot_id()
        # Optimistic concurrency (Iceberg's commit model): the caller passes
        # the snapshot its data derives from; if another writer committed in
        # between, an APPEND is rebased onto the new current (appends
        # commute — the new manifest list is current's list + ours), while a
        # DERIVED commit (merge/compact read the base table) must abort with
        # CommitConflictError so the caller recomputes from the new base —
        # silent last-write-wins would drop the other writer's files.
        if expected_parent is not _NO_PARENT_CHECK and parent != expected_parent:
            if operation != "append":
                raise CommitConflictError(
                    f"base snapshot {expected_parent} is no longer current "
                    f"(now {parent}); recompute from the new base and retry"
                )
        # ids are allocated past EVERY existing snapshot (not parent+1): after
        # a rollback the next commit forks a new branch and must not collide
        # with the orphaned one
        existing = [int(n[:-5]) for n in os.listdir(self.snap_dir) if n.endswith(".json")]
        sid = max(existing, default=0) + 1
        # this commit's files go into their own manifest file; the snapshot
        # carries only the (cumulative) manifest LIST — refs + rollups
        added_ref = self._write_manifest(added)
        if operation == "overwrite" or parent is None:
            manifest_list = [added_ref]
        else:
            manifest_list = list(self.snapshot(parent)["manifest_list"]) + [added_ref]
            manifest_list = self._merge_manifests(manifest_list)
        snap = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "manifest_list": manifest_list,
            # the per-commit manifest stays addressable even after merges:
            # CDC (changes_between) reads exactly this chain
            "added_manifest": added_ref,
            "added_rows": added_ref["rows"],
            "ts_ms": int(time.time() * 1000),
            "extra": extra or {},
        }
        path = os.path.join(self.snap_dir, f"{sid}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)
        ptr_tmp = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(ptr_tmp, "w") as f:
            f.write(str(sid))
        os.replace(ptr_tmp, self._current_path())  # the commit point
        return sid

    def _write_files(
        self,
        df: DataFrame,
        bucket_by: str | None,
        n_buckets: int,
        range_by: str | None = None,
    ) -> str:
        fileset = os.path.join(self.data_dir, uuid.uuid4().hex + ".parquet")
        writer = df
        if range_by is not None:
            # range-cluster: each file covers one contiguous key interval →
            # tight disjoint [min,max] stats, the layout ZORDER-style data
            # skipping needs (Delta/Iceberg OPTIMIZE ... ZORDER BY)
            writer = df.repartitionByRange(n_buckets, F.col(range_by)).sortWithinPartitions(
                range_by
            )
        elif bucket_by is not None:
            # hash-bucket the rows so each file covers one bucket — gives the
            # scan pruner disjoint stats ranges AND downstream equi-joins a
            # co-location key (Iceberg bucket partition transform)
            writer = df.repartition(n_buckets, F.col(bucket_by))
        writer.write.mode("errorifexists").parquet(fileset)
        return fileset

    def _find_epoch(self, epoch_id) -> int | None:
        """Snapshot already committed for this epoch, if any — the exactly-
        once check for streaming foreachBatch re-deliveries."""
        sid = self.current_snapshot_id()
        while sid is not None:
            snap = self.snapshot(sid)
            if snap["extra"].get("epoch_id") == epoch_id:
                return sid
            sid = snap["parent_id"]
        return None

    def append(
        self, df: DataFrame, bucket_by: str | None = None, n_buckets: int = 8,
        extra: dict | None = None, epoch_id: int | None = None,
    ) -> int:
        """Commit the rows as a new snapshot on top of current.

        ``epoch_id`` makes the commit IDEMPOTENT per epoch: a foreachBatch
        re-delivery of an already-committed micro-batch returns the existing
        snapshot without writing — the exactly-once sink contract for
        Structured Streaming (epoch dedup before any data is written)."""
        if epoch_id is not None:
            done = self._find_epoch(epoch_id)
            if done is not None:
                return done
            extra = {**(extra or {}), "epoch_id": epoch_id}
        base = self.current_snapshot_id()
        fileset = self._write_files(df, bucket_by, n_buckets)
        added = self._collect_file_stats(fileset)
        # expected_parent engages the optimistic-concurrency path: if
        # another writer committed while our files were writing, the append
        # is rebased onto the new current inside the commit lock (appends
        # commute; no data loss either way)
        return self._commit("append", added, extra, expected_parent=base)

    def streaming_sink(self, bucket_by: str | None = None, n_buckets: int = 8):
        """``writeStream.foreachBatch(table.streaming_sink())`` — each
        micro-batch lands as one atomic snapshot keyed by its epoch id, so a
        restarted query that re-delivers a batch commits nothing twice."""

        def _sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.append(batch_df, bucket_by=bucket_by, n_buckets=n_buckets, epoch_id=epoch_id)

        return _sink

    def overwrite(
        self, df: DataFrame, bucket_by: str | None = None, n_buckets: int = 8,
        extra: dict | None = None,
    ) -> int:
        """Commit the rows as a full-table replacement (old files stay on
        disk for time travel until expire_snapshots)."""
        fileset = self._write_files(df, bucket_by, n_buckets)
        added = self._collect_file_stats(fileset)
        return self._commit("overwrite", added, extra)

    # ----------------------------------------------------------------- read
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Read the table at a snapshot (default: current). mergeSchema
        tolerates additive column evolution across snapshots."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"lake table at {self.root} has no snapshots")
        files = [f["path"] for f in self._live_files(sid)]
        if not files:
            raise FileNotFoundError(f"snapshot {sid} holds no data files")
        return spark.read.option("mergeSchema", "true").parquet(*files)

    def scan(
        self, spark: SparkSession, col: str, lo, hi, snapshot_id: int | None = None
    ) -> DataFrame:
        """Range read ``lo <= col <= hi`` with TWO-stage manifest pruning:
        (1) manifest refs whose rollup [min,max] cannot intersect the range
        are dropped from the manifest list without ever opening the manifest
        file; (2) surviving manifests' file entries are stats-checked the
        same way. Planning cost = O(manifest list + file entries in surviving
        manifests), never O(total files). The residual filter still applies,
        so pruning is provably result-neutral; planning counters land in
        ``last_scan_stats`` for observability."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"lake table at {self.root} has no snapshots")
        refs = self.snapshot(sid)["manifest_list"]
        files_total = sum(r["files"] for r in refs)
        if col in self.stats_cols:
            live_refs = [
                r for r in refs
                if r["stats"].get(col) is None  # unprunable rollup
                or not (r["stats"][col][0] > hi or r["stats"][col][1] < lo)
            ]
            keep = [
                f
                for r in live_refs
                for f in self._manifest_entries(r)
                if f["stats"][col][0] is None  # all-null file: cannot prune
                or not (f["stats"][col][0] > hi or f["stats"][col][1] < lo)
            ]
        else:
            live_refs = refs
            keep = [f for r in refs for f in self._manifest_entries(r)]
        self.last_scan_stats = {
            "files_total": files_total,
            "files_scanned": len(keep),
            "manifests_total": len(refs),
            "manifests_read": len(live_refs),
        }
        if not keep:
            # empty result with the right schema: read one file, filter false
            return self.read(spark, sid).where(F.lit(False))
        df = spark.read.option("mergeSchema", "true").parquet(*[f["path"] for f in keep])
        return df.where((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))

    # ------------------------------------------------- z-order data skipping
    ZKEY = "_zkey"

    def append_zordered(
        self,
        df: DataFrame,
        res: int,
        x_col: str = "x",
        y_col: str = "y",
        n_files: int = 8,
        extra: dict | None = None,
    ) -> int:
        """OPTIMIZE ... ZORDER BY (x, y) as a WRITE: rows gain a Morton key
        at ``res`` bits/axis, are range-clustered so each file covers one
        contiguous z-interval, and the key lands in the file stats. A 2-D
        bbox then prunes files via ``scan_bbox`` — Delta/Iceberg's z-order
        data skipping, from first principles. Requires ``ZKEY`` in
        stats_cols."""
        from ..operators.layout import zorder_key_col

        if self.ZKEY not in self.stats_cols:
            raise ValueError(f"append_zordered needs {self.ZKEY!r} in stats_cols")
        n = 1 << res
        ix = F.greatest(
            F.least(F.floor(F.col(x_col) * F.lit(float(n))).cast("long"), F.lit(n - 1)),
            F.lit(0),
        )
        iy = F.greatest(
            F.least(F.floor(F.col(y_col) * F.lit(float(n))).cast("long"), F.lit(n - 1)),
            F.lit(0),
        )
        base = self.current_snapshot_id()
        keyed = df.withColumn(self.ZKEY, zorder_key_col(ix, iy, res))
        fileset = self._write_files(keyed, None, n_files, range_by=self.ZKEY)
        added = self._collect_file_stats(fileset)
        return self._commit(
            "append", added, {**(extra or {}), "zorder_res": res}, expected_parent=base
        )

    def scan_bbox(
        self,
        spark: SparkSession,
        xlo: float,
        xhi: float,
        ylo: float,
        yhi: float,
        res: int,
        x_col: str = "x",
        y_col: str = "y",
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Bounding-box read with z-order file skipping: the bbox decomposes
        into a small set of contiguous Morton ranges (driver-side quadtree
        cover, the classic BIGMIN-free approach); manifests, then files,
        whose [min,max] zkey stats miss every range are never handed to
        Spark. The exact coordinate filter still applies, so skipping is
        result-neutral."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"lake table at {self.root} has no snapshots")
        ranges = zranges_for_bbox(xlo, xhi, ylo, yhi, res)

        def _hits(st) -> bool:
            if st is None or st[0] is None:
                return True  # no stats: cannot prune
            return any(not (st[0] > hi or st[1] < lo) for lo, hi in ranges)

        refs = self.snapshot(sid)["manifest_list"]
        files_total = sum(r["files"] for r in refs)
        live_refs = [r for r in refs if _hits(r["stats"].get(self.ZKEY))]
        keep = [
            f
            for r in live_refs
            for f in self._manifest_entries(r)
            if _hits(f["stats"].get(self.ZKEY))
        ]
        self.last_scan_stats = {
            "files_total": files_total,
            "files_scanned": len(keep),
            "manifests_total": len(refs),
            "manifests_read": len(live_refs),
        }
        if not keep:
            return self.read(spark, sid).where(F.lit(False)).drop(self.ZKEY)
        df = spark.read.option("mergeSchema", "true").parquet(*[f["path"] for f in keep])
        return df.where(
            (F.col(x_col) >= F.lit(xlo))
            & (F.col(x_col) <= F.lit(xhi))
            & (F.col(y_col) >= F.lit(ylo))
            & (F.col(y_col) <= F.lit(yhi))
        ).drop(self.ZKEY)

    def changes_between(
        self, spark: SparkSession, from_snapshot: int, to_snapshot: int
    ) -> DataFrame:
        """Rows APPENDED strictly after ``from_snapshot`` up to
        ``to_snapshot`` (incremental/CDC read). Raises if the range crosses
        an overwrite — there is no row-level diff to serve then. Reads the
        per-commit ``added_manifest`` chain: work is O(snapshots in range +
        their added files), untouched by manifest merging."""
        files: list[str] = []
        sid: int | None = to_snapshot
        while sid is not None and sid != from_snapshot:
            snap = self.snapshot(sid)
            if snap["operation"] == "overwrite":
                raise ValueError(
                    f"snapshot range ({from_snapshot}, {to_snapshot}] crosses an "
                    "overwrite; incremental reads need an append-only range"
                )
            files.extend(f["path"] for f in self._manifest_entries(snap["added_manifest"]))
            sid = snap["parent_id"]
        if sid != from_snapshot:
            raise ValueError(f"{from_snapshot} is not an ancestor of {to_snapshot}")
        if not files:
            return self.read(spark, to_snapshot).where(F.lit(False))
        return spark.read.option("mergeSchema", "true").parquet(*files)

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        value_cols: list[str],
        bucket_by: str | None = None,
        n_buckets: int = 8,
    ) -> int:
        """MERGE INTO: upsert ``updates`` into the current snapshot and
        commit the merged table as an overwrite snapshot (copy-on-write, the
        Iceberg/Delta MERGE execution model — the old snapshot stays
        time-travelable). The decision dataflow is ONE full-outer join
        (operators/merge.py); rows keep their merged values, the action
        column is dropped before the write."""
        from ..operators.merge import merge_upsert

        # optimistic retry-with-rebase (Iceberg commit.retry semantics): the
        # merged table derives from a read of `base_sid`; if a concurrent
        # writer lands first, _commit raises CommitConflictError and the
        # merge recomputes against the NEW current — never last-write-wins.
        for attempt in range(3):
            base_sid = self.current_snapshot_id()
            base = self.read(updates.sparkSession, base_sid)
            merged = merge_upsert(base, updates, key_cols, value_cols).drop("action")
            extra = {"operation_detail": "merge", "keys": list(key_cols)}
            fileset = self._write_files(merged, bucket_by, n_buckets)
            added = self._collect_file_stats(fileset)
            try:
                return self._commit(
                    "overwrite", added, extra, expected_parent=base_sid
                )
            except CommitConflictError:
                if attempt == 2:
                    raise
        raise AssertionError("unreachable")

    # ------------------------------------------------------------ lifecycle
    def compact(self, spark: SparkSession, n_files: int = 8, sort_by: str | None = None) -> int:
        """Bin-pack the current snapshot's (typically many small, e.g.
        per-micro-batch) files into ``n_files`` and commit the rewrite as an
        overwrite snapshot — rows unchanged, old snapshot stays readable.
        The small-files problem is what kills streaming-ingested tables at
        scale: every reader pays per-file open/footer cost, and manifest
        pruning degrades when stats ranges fragment. ``sort_by`` re-clusters
        while compacting (stats tighten back up)."""
        # same optimistic retry as merge: a compaction computed from a stale
        # snapshot must not clobber a concurrent writer's commit
        for attempt in range(3):
            base_sid = self.current_snapshot_id()
            df = self.read(spark, base_sid)
            if sort_by is not None:
                fileset = self._write_files(df, None, n_files, range_by=sort_by)
            else:
                fileset = self._write_files(df.coalesce(n_files), None, n_files)
            added = self._collect_file_stats(fileset)
            try:
                return self._commit(
                    "overwrite", added, {"operation_detail": "compact"},
                    expected_parent=base_sid,
                )
            except CommitConflictError:
                if attempt == 2:
                    raise
        raise AssertionError("unreachable")

    def vacuum_orphans(self) -> list[str]:
        """Delete data filesets referenced by NO snapshot manifest — the
        residue of writers killed between data write and commit (the atomic
        commit protocol makes them invisible but not free)."""
        import shutil
        from urllib.parse import urlparse

        referenced = set()
        for snap in self.snapshots():
            for f in self._manifest_entries(snap["added_manifest"]):
                p = f["path"]
                referenced.add(urlparse(p).path if p.startswith("file:") else p)
        deleted = []
        for name in os.listdir(self.data_dir):
            fileset = os.path.join(self.data_dir, name)
            if not any(p.startswith(fileset) for p in referenced):
                shutil.rmtree(fileset, ignore_errors=True)
                deleted.append(fileset)
        return deleted

    def rollback(self, snapshot_id: int) -> None:
        """Re-point current at an ancestor snapshot (metadata-only, instant,
        reversible until expire_snapshots)."""
        cur = self.current_snapshot_id()
        chain = set()
        sid: int | None = cur
        while sid is not None:
            chain.add(sid)
            sid = self.snapshot(sid)["parent_id"]
        if snapshot_id not in chain:
            raise ValueError(f"snapshot {snapshot_id} is not an ancestor of current {cur}")
        tmp = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, self._current_path())

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots of the CURRENT
        ancestry (plus any orphaned branch snapshots), delete manifest files
        referenced by no kept snapshot, and delete data files no surviving
        manifest references. Returns the deleted data-file paths."""
        import shutil

        chain = self.history()
        keep = chain[-keep_last:] if keep_last > 0 else []
        # snapshots reachable only through expired/orphaned chains die
        keep_ids = {s["snapshot_id"] for s in keep}
        live_files = set()
        live_manifests = set()
        for s in keep:
            live_files.update(f["path"] for f in self._live_files(s["snapshot_id"]))
            live_manifests.update(r["manifest"] for r in s["manifest_list"])
            live_manifests.add(s["added_manifest"]["manifest"])
        deleted = []
        for snap in self.snapshots():
            if snap["snapshot_id"] not in keep_ids:
                os.remove(os.path.join(self.snap_dir, f"{snap['snapshot_id']}.json"))
        for name in os.listdir(self.manifest_dir):
            rel = os.path.join("manifests", name)
            if rel not in live_manifests and not name.startswith("."):
                os.remove(os.path.join(self.manifest_dir, name))
        # re-parent the oldest kept snapshot so the chain stays walkable
        if keep:
            oldest = keep[0]
            if oldest["parent_id"] is not None and oldest["parent_id"] not in keep_ids:
                oldest = dict(oldest, parent_id=None)
                path = os.path.join(self.snap_dir, f"{oldest['snapshot_id']}.json")
                tmp = path + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    json.dump(oldest, f)
                os.replace(tmp, path)
        def _local(p: str) -> str:
            # manifests store file:///... URIs (the input_file_name() form),
            # so normalize to a plain local path before comparing
            from urllib.parse import urlparse

            return urlparse(p).path if p.startswith("file:") else p

        live_local = {_local(p) for p in live_files}
        for name in os.listdir(self.data_dir):
            fileset = os.path.join(self.data_dir, name)
            # a fileset dir is live if ANY of its parquet parts is referenced
            if not any(p.startswith(fileset) for p in live_local):
                shutil.rmtree(fileset, ignore_errors=True)
                deleted.append(fileset)
        return deleted


# ---------------------------------------------------------- named refs / WAP
# Iceberg-style branches and tags: a ref is an atomically-written pointer
# file under refs/. Branches move (their own commit line); tags are frozen.
# The write-audit-publish (WAP) flow: stage commits on a branch, audit the
# branch snapshot, then publish = fast-forward the main pointer — readers
# of `current` never see unaudited data, and publishing is one metadata
# rename, no data movement.


def _ref_dir(table: "LakeTable") -> str:
    d = os.path.join(table.root, "refs")
    os.makedirs(d, exist_ok=True)
    return d


def _write_ref(table: "LakeTable", name: str, sid: int, kind: str) -> None:
    path = os.path.join(_ref_dir(table), name)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": sid, "kind": kind}, f)
    os.replace(tmp, path)


def _read_ref(table: "LakeTable", name: str) -> dict:
    with open(os.path.join(_ref_dir(table), name)) as f:
        return json.load(f)


class _RefsMixin:
    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Freeze a name onto a snapshot (audit marker, reproducible reads)."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        ref = None
        try:
            ref = _read_ref(self, name)
        except FileNotFoundError:
            pass
        if ref is not None and ref["kind"] == "tag":
            raise ValueError(f"tag {name!r} already exists (tags are immutable)")
        _write_ref(self, name, sid, "tag")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        _write_ref(self, name, sid, "branch")

    def ref_snapshot(self, name: str) -> int:
        return _read_ref(self, name)["snapshot_id"]

    def read_ref(self, spark: SparkSession, name: str) -> DataFrame:
        return self.read(spark, self.ref_snapshot(name))

    def append_to_branch(self, name: str, df: DataFrame, **kw) -> int:
        """Stage a commit on a branch WITHOUT moving `current`: the commit
        is parented at the branch head (current is restored after), and the
        branch pointer advances. The staging half of WAP."""
        ref = _read_ref(self, name)
        if ref["kind"] != "branch":
            raise ValueError(f"{name!r} is a tag; commits need a branch")
        main = self.current_snapshot_id()
        # temporarily point current at the branch head so _commit parents
        # correctly, then restore — both moves are atomic pointer writes
        ptr = self._current_path()
        tmp = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(ref["snapshot_id"]))
        os.replace(tmp, ptr)
        try:
            sid = self.append(df, **kw)
        finally:
            tmp = ptr + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(str(main))
            os.replace(tmp, ptr)
        _write_ref(self, name, sid, "branch")
        return sid

    def publish(self, name: str) -> int:
        """Fast-forward `current` to the audited branch head (the publish
        half of WAP). Requires current to be an ancestor of the branch head
        — a true fast-forward, never a silent overwrite."""
        ref = _read_ref(self, name)
        head = ref["snapshot_id"]
        main = self.current_snapshot_id()
        sid: int | None = head
        chain = set()
        while sid is not None:
            chain.add(sid)
            sid = self.snapshot(sid)["parent_id"]
        if main is not None and main not in chain:
            raise ValueError(
                f"current {main} is not an ancestor of branch {name!r} head {head}; "
                "rebase the branch before publishing"
            )
        ptr = self._current_path()
        tmp = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(head))
        os.replace(tmp, ptr)
        return head


# graft the mixin (kept separate so the core class above stays readable)
for _m in ("create_tag", "create_branch", "ref_snapshot", "read_ref",
           "append_to_branch", "publish"):
    setattr(LakeTable, _m, getattr(_RefsMixin, _m))
