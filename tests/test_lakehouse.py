"""Snapshot lakehouse table: atomic commits, time travel, CDC reads,
manifest pruning, rollback, expiry (sources/lakehouse.py).

Substitutes for the north rule's Iceberg table in-sandbox; the properties
tested here are the ones the engine depends on at 100 TB — readers never see
a torn commit, old snapshots stay readable, and range scans skip whole files
from manifest stats alone.
"""

import os

import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.sources.lakehouse import LakeTable

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text", "lang")


def test_append_time_travel_and_history(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",))
    n1 = docs.filter("doc_id < 20")
    n2 = docs.filter("doc_id >= 20 AND doc_id < 35")
    s1 = t.append(n1)
    s2 = t.append(n2)
    assert [s["snapshot_id"] for s in t.history()] == [s1, s2]
    assert t.read(spark, s1).count() == n1.count()
    assert t.read(spark).count() == n1.count() + n2.count()
    # snapshot read is exact, not just counted
    got = sorted(r["doc_id"] for r in t.read(spark, s1).select("doc_id").collect())
    want = sorted(r["doc_id"] for r in n1.select("doc_id").collect())
    assert got == want


def test_overwrite_resets_visibility(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 10"))
    s2 = t.overwrite(docs.filter("doc_id >= 40 AND doc_id < 45"))
    assert t.read(spark).count() == 5
    assert t.read(spark, s1).count() == 10  # time travel across the overwrite
    assert t.snapshot(s2)["operation"] == "overwrite"


def test_changes_between_is_incremental(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 20"))
    s2 = t.append(docs.filter("doc_id >= 20 AND doc_id < 30"))
    s3 = t.append(docs.filter("doc_id >= 30 AND doc_id < 33"))
    delta = t.changes_between(spark, s1, s3)
    got = sorted(r["doc_id"] for r in delta.select("doc_id").collect())
    assert got == list(range(20, 33))
    s4 = t.overwrite(docs.filter("doc_id < 5"))
    with pytest.raises(ValueError, match="crosses an overwrite"):
        t.changes_between(spark, s3, s4)


def test_manifest_pruning_skips_files_and_is_result_neutral(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",))
    # range-partitioned filesets → disjoint doc_id stats per file
    for lo in (0, 100, 200, 300):
        t.append(
            docs.withColumn("doc_id", F.col("doc_id") + lo).filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            )
        )
    out = t.scan(spark, "doc_id", 210, 260)
    rows = out.count()
    # oracle: full read + filter (no pruning)
    want = t.read(spark).where("doc_id BETWEEN 210 AND 260").count()
    assert rows == want and rows > 0
    # pruning must actually have skipped files
    st = t.last_scan_stats
    assert st["files_scanned"] < st["files_total"], st


def test_bucketed_append_gives_disjoint_buckets(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",))
    t.append(docs.filter("doc_id < 64"), bucket_by="doc_id", n_buckets=4)
    files = {f["path"] for f in t._live_files(t.current_snapshot_id())}
    assert len(files) == 4
    # every row lands in exactly one file; union is exact
    assert t.read(spark).count() == 64


def test_rollback_and_branch_fork(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 10"))
    s2 = t.append(docs.filter("doc_id >= 10 AND doc_id < 15"))
    t.rollback(s1)
    assert t.current_snapshot_id() == s1
    assert t.read(spark).count() == 10
    s3 = t.append(docs.filter("doc_id >= 90 AND doc_id < 93"))  # fork
    assert s3 != s2
    assert t.read(spark).count() == 13
    with pytest.raises(ValueError, match="not an ancestor"):
        t.rollback(s2)  # s2 is orphaned now


def test_expire_snapshots_deletes_unreferenced_files(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.append(docs.filter("doc_id < 10"))
    t.overwrite(docs.filter("doc_id >= 20 AND doc_id < 25"))
    n_filesets_before = len(os.listdir(t.data_dir))
    deleted = t.expire_snapshots(keep_last=1)
    assert len(deleted) == 1 and len(os.listdir(t.data_dir)) == n_filesets_before - 1
    # the kept snapshot still reads exactly
    assert t.read(spark).count() == 5
    assert len(t.snapshots()) == 1


def test_commit_is_atomic_readers_never_see_partial(spark, docs, tmp_path):
    """Data files written but manifest not committed → invisible."""
    t = LakeTable(str(tmp_path / "t"))
    t.append(docs.filter("doc_id < 10"))
    # simulate a killed writer: fileset on disk, no snapshot commit
    orphan = docs.filter("doc_id >= 50 AND doc_id < 60")
    t._write_files(orphan, None, 8)
    assert t.read(spark).count() == 10  # orphan rows invisible
    # next real commit is unaffected
    t.append(docs.filter("doc_id >= 70 AND doc_id < 72"))
    assert t.read(spark).count() == 12


def test_schema_evolution_additive_column(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.append(docs.select("doc_id", "text"))
    t.append(docs.filter("doc_id < 5").select("doc_id", "text", "lang"))
    out = t.read(spark)
    assert set(out.columns) == {"doc_id", "text", "lang"}
    # old rows surface NULL for the new column
    assert out.where("lang IS NULL").count() == docs.count()


def test_zranges_cover_exactly():
    """Pure driver-side check: every leaf cell whose center falls in the
    bbox has its z-key inside some range, and keys far outside don't."""
    from raptor_rag_spark.sources.lakehouse import zranges_for_bbox

    res = 5
    n = 1 << res

    def zkey(ix, iy):
        z = 0
        for b in range(res):
            z |= ((ix >> b) & 1) << (2 * b + 1)
            z |= ((iy >> b) & 1) << (2 * b)
        return z

    xlo, xhi, ylo, yhi = 0.2, 0.55, 0.4, 0.9
    ranges = zranges_for_bbox(xlo, xhi, ylo, yhi, res)
    assert ranges == sorted(ranges) and len(ranges) < 64

    def covered(z):
        return any(lo <= z <= hi for lo, hi in ranges)

    for ix in range(n):
        for iy in range(n):
            cx, cy = ix / n, iy / n
            z = zkey(ix, iy)
            if xlo <= cx and cx + 1 / n <= xhi and ylo <= cy and cy + 1 / n <= yhi:
                assert covered(z), (ix, iy)  # fully-inside cells always covered
            if cx > xhi or cy > yhi or cx + 1 / n <= xlo or cy + 1 / n <= ylo:
                assert not covered(z), (ix, iy)  # disjoint cells never covered


def test_zorder_scan_skips_files_and_matches_full_filter(spark, tmp_path):
    from raptor_rag_spark.sources.lakehouse import LakeTable

    t = LakeTable(str(tmp_path / "t"), stats_cols=(LakeTable.ZKEY,))
    pts = spark.range(4000).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 2654435761) % 1000 / 1000.0).alias("x"),
        ((F.col("id") * 40503) % 1000 / 1000.0).alias("y"),
    )
    t.append_zordered(pts, res=8, n_files=16)
    got = t.scan_bbox(spark, 0.1, 0.2, 0.6, 0.7, res=8)
    want = pts.where("x BETWEEN 0.1 AND 0.2 AND y BETWEEN 0.6 AND 0.7")
    assert sorted(r["pid"] for r in got.collect()) == sorted(r["pid"] for r in want.collect())
    st = t.last_scan_stats
    assert st["files_scanned"] < st["files_total"], st
    assert LakeTable.ZKEY not in got.columns


def test_streaming_sink_is_exactly_once(spark, docs, tmp_path):
    """foreachBatch re-delivery of an epoch must not double-commit."""
    from raptor_rag_spark.sources.lakehouse import LakeTable

    t = LakeTable(str(tmp_path / "t"))
    sink = t.streaming_sink()
    b0 = docs.filter("doc_id < 10")
    b1 = docs.filter("doc_id >= 10 AND doc_id < 14")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # restarted query re-delivers the last epoch
    assert t.read(spark).count() == 14
    assert len(t.history()) == 2
    epochs = [s["extra"]["epoch_id"] for s in t.history()]
    assert epochs == [0, 1]


def test_merge_into_copy_on_write(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 10").select("doc_id", "text"))
    updates = spark.createDataFrame(
        [(5, "REPLACED"), (100, "NEW ROW")], "doc_id long, text string"
    )
    s2 = t.merge(updates, ["doc_id"], ["text"])
    cur = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert len(cur) == 11 and cur[5] == "REPLACED" and cur[100] == "NEW ROW"
    # pre-merge snapshot still time-travelable
    old = {r["doc_id"]: r["text"] for r in t.read(spark, s1).collect()}
    assert len(old) == 10 and old[5] != "REPLACED"
    assert t.snapshot(s2)["extra"]["operation_detail"] == "merge"


def test_lake_cdc_drives_incremental_tree_update(spark, docs, tmp_path):
    """The daily-crawl loop end-to-end: pages land in the snapshot table,
    the CDC read (changes_between) yields exactly the new rows, and feeding
    them to update_tree produces a tree node-identical to a full rebuild
    over the table's current snapshot — incremental maintenance driven
    purely by table metadata, no external bookkeeping of 'what changed'."""
    from raptor_rag_spark.config import ClusterTreeConfig
    from raptor_rag_spark.plans.build_tree import build_tree, update_tree

    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 30").select("doc_id", "text"))
    cfg = ClusterTreeConfig(max_tokens=64, num_layers=2, max_resolution=6)
    tree = build_tree(t.read(spark, s1), cfg)

    s2 = t.append(docs.filter("doc_id >= 30 AND doc_id < 40").select("doc_id", "text"))
    delta = t.changes_between(spark, s1, s2)
    updated = update_tree(tree, delta, cfg)
    rebuilt = build_tree(t.read(spark, s2), cfg)

    cols = ["node_id", "level", "cell_id", "token_count"]
    got = sorted(map(tuple, updated.select(*cols).collect()))
    want = sorted(map(tuple, rebuilt.select(*cols).collect()))
    assert got == want and len(got) > 0


def test_compact_binpacks_without_changing_rows(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",))
    # streaming-style ingest: many tiny commits → many files
    for i in range(6):
        t.append(docs.filter(f"doc_id >= {i*10} AND doc_id < {i*10+10}"))
    before = sorted(r["doc_id"] for r in t.read(spark).collect())
    pre = t.current_snapshot_id()
    n_files_pre = len(t._live_files(pre))
    t.compact(spark, n_files=2, sort_by="doc_id")
    after = sorted(r["doc_id"] for r in t.read(spark).collect())
    assert after == before
    assert len(t._live_files(t.current_snapshot_id())) <= 2 < n_files_pre
    # pre-compaction snapshot still time-travelable
    assert t.read(spark, pre).count() == len(before)
    # re-clustering restored prunable stats
    t.scan(spark, "doc_id", 5, 15)
    assert t.last_scan_stats["files_scanned"] < t.last_scan_stats["files_total"]


def test_vacuum_orphans_removes_only_uncommitted(spark, docs, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.append(docs.filter("doc_id < 10"))
    t._write_files(docs.filter("doc_id >= 90 AND doc_id < 95"), None, 4)  # killed writer
    assert len(os.listdir(t.data_dir)) == 2
    deleted = t.vacuum_orphans()
    assert len(deleted) == 1 and len(os.listdir(t.data_dir)) == 1
    assert t.read(spark).count() == 10


def test_manifest_list_stays_bounded_across_many_commits(spark, docs, tmp_path):
    """Manifest-list compaction (Iceberg's ManifestMergeManager): commits
    past merge_threshold bin-pack the smallest manifests into one, so the
    snapshot's planning metadata stays O(threshold) no matter how many
    commits accumulate — the 100×-scale fix for inline file lists."""
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",), merge_threshold=4)
    for i in range(12):
        t.append(docs.filter(f"doc_id >= {i*5} AND doc_id < {i*5+5}"))
    snap = t.snapshot(t.current_snapshot_id())
    assert len(snap["manifest_list"]) <= 4
    # merging never loses or duplicates rows
    assert t.read(spark).count() == 60
    got = sorted(r["doc_id"] for r in t.read(spark).collect())
    assert got == list(range(60))
    # CDC is unaffected by merging: per-commit added_manifest chain intact
    hist = t.history()
    delta = t.changes_between(spark, hist[2]["snapshot_id"], hist[6]["snapshot_id"])
    assert sorted(r["doc_id"] for r in delta.collect()) == list(range(15, 35))


def test_scan_prunes_manifests_before_opening_them(spark, docs, tmp_path):
    """Two-stage pruning: a range predicate disjoint from a manifest's
    rollup must drop the manifest from planning WITHOUT reading its file
    entries (manifests_read < manifests_total), and the result must still
    equal the unpruned filter."""
    t = LakeTable(str(tmp_path / "t"), stats_cols=("doc_id",), merge_threshold=32)
    for lo in (0, 100, 200, 300):
        t.append(
            docs.withColumn("doc_id", F.col("doc_id") + lo).filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            )
        )
    out = t.scan(spark, "doc_id", 110, 160)
    want = t.read(spark).where("doc_id BETWEEN 110 AND 160").count()
    assert out.count() == want and want > 0
    st = t.last_scan_stats
    assert st["manifests_read"] < st["manifests_total"] == 4, st
    assert st["files_scanned"] < st["files_total"], st


def test_expire_snapshots_gc_at_10k_files(tmp_path):
    """Snapshot-expiry GC at >=10^4 data files — metadata-layer test, no
    Spark: 100 commits x 100 fabricated file entries each (real empty files
    on disk), then expire to the last snapshot and verify (a) dead filesets
    and manifests are deleted, (b) planning metadata for the survivor is
    O(merge_threshold) manifests, NOT O(10^4 files) or O(100 snapshots)."""
    import json as _json
    import time as _time

    t = LakeTable(str(tmp_path / "t"), stats_cols=("k",), merge_threshold=8)
    n_commits, files_per = 100, 100
    for c in range(n_commits):
        fileset = os.path.join(t.data_dir, f"fs{c:03d}.parquet")
        os.makedirs(fileset)
        entries = []
        for i in range(files_per):
            p = os.path.join(fileset, f"part-{i:05d}.parquet")
            with open(p, "w") as f:
                f.write("x")
            k = c * files_per + i
            entries.append({"path": p, "rows": 1, "stats": {"k": [k, k]}})
        t._commit("append", entries)
    assert len(t.history()) == n_commits
    cur = t.snapshot(t.current_snapshot_id())
    # planning metadata is bounded by the merge threshold even at 10^4 files
    assert len(cur["manifest_list"]) <= 8
    assert sum(r["files"] for r in cur["manifest_list"]) == n_commits * files_per

    # a final overwrite makes everything older garbage
    last_fs = os.path.join(t.data_dir, "final.parquet")
    os.makedirs(last_fs)
    lp = os.path.join(last_fs, "part-00000.parquet")
    with open(lp, "w") as f:
        f.write("x")
    t._commit("overwrite", [{"path": lp, "rows": 1, "stats": {"k": [0, 0]}}])

    t0 = _time.perf_counter()
    deleted = t.expire_snapshots(keep_last=1)
    gc_wall = _time.perf_counter() - t0
    # all 100 dead filesets deleted; the survivor kept
    assert len(deleted) == n_commits
    assert os.listdir(t.data_dir) == ["final.parquet"]
    assert len(t.snapshots()) == 1
    # manifest files GC'd down to the survivor's (list + added)
    live = {os.path.basename(r["manifest"]) for r in
            t.snapshot(t.current_snapshot_id())["manifest_list"]}
    live.add(os.path.basename(t.snapshot(t.current_snapshot_id())["added_manifest"]["manifest"]))
    assert set(os.listdir(t.manifest_dir)) == live
    # GC of 10^4 files is metadata work — sub-minute even on sandbox disk
    assert gc_wall < 60, gc_wall


def test_scan_planning_cost_bounded_by_pruned_manifests(tmp_path):
    """Round-3 verdict #2 'done' criterion: planning cost must be bounded
    by pruned-manifest count, not total files. 64 manifests x 500 file
    entries (32k files, metadata only, keys range-clustered per manifest);
    a range probe hitting one manifest must open exactly that manifest
    (manifests_read == 1), see only its 500 entries as scan candidates,
    and plan in milliseconds while files_total still reports all 32k."""
    import time as _time

    t = LakeTable(str(tmp_path / "t"), stats_cols=("k",), merge_threshold=10**9)
    n_manifests, files_per = 64, 500
    for m in range(n_manifests):
        entries = []
        for i in range(files_per):
            k = m * files_per + i
            entries.append(
                {"path": f"/nonexistent/f{m}_{i}.parquet", "rows": 1, "stats": {"k": [k, k]}}
            )
        t._commit("append", entries)
    snap = t.snapshot(t.current_snapshot_id())
    assert len(snap["manifest_list"]) == n_manifests

    lo = 7 * files_per + 10
    t0 = _time.perf_counter()
    # planning only: the probe range sits inside manifest 7; spark is never
    # reached because we only need the pruning decision + counters, so call
    # the planner and catch the (expected) read failure on fake paths
    try:
        t.scan(None, "k", lo, lo + 5)
    except Exception:
        pass  # fake file paths cannot be read; planning already ran
    wall = _time.perf_counter() - t0
    st = t.last_scan_stats
    assert st["manifests_total"] == n_manifests
    assert st["manifests_read"] == 1, st
    assert st["files_scanned"] == 6, st
    assert st["files_total"] == n_manifests * files_per
    assert wall < 2.0, wall


def test_write_audit_publish_flow(spark, docs, tmp_path):
    """WAP: stage commits on a branch (current unmoved), audit the branch
    read, tag it, publish = fast-forward; non-ancestor publish refuses."""
    t = LakeTable(str(tmp_path / "t"))
    s1 = t.append(docs.filter("doc_id < 10"))
    t.create_branch("audit", s1)
    s2 = t.append_to_branch("audit", docs.filter("doc_id >= 10 AND doc_id < 25"))
    # staging did not move current
    assert t.current_snapshot_id() == s1
    assert t.read(spark).count() == 10
    # the branch sees staged data
    assert t.read_ref(spark, "audit").count() == 25
    # audit passed → tag + publish
    t.create_tag("audited-v1", s2)
    head = t.publish("audit")
    assert head == s2 and t.current_snapshot_id() == s2
    assert t.read(spark).count() == 25
    # tags freeze
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("audited-v1", s1)
    # a diverged branch cannot fast-forward over current
    t.create_branch("other", s1)
    t.append_to_branch("other", docs.filter("doc_id >= 90 AND doc_id < 92"))
    with pytest.raises(ValueError, match="not an ancestor"):
        t.publish("other")
    # tag still reads the audited snapshot
    assert t.read_ref(spark, "audited-v1").count() == 25


def test_concurrent_append_rebases_no_data_loss(spark, docs, tmp_path):
    """Round-4 verdict #6: two writers from the SAME parent snapshot. The
    second append must REBASE onto the first one's commit (appends commute),
    so both filesets stay visible — not silent last-write-wins."""
    from raptor_rag_spark.sources.lakehouse import _NO_PARENT_CHECK

    root = str(tmp_path / "t")
    t1 = LakeTable(root, stats_cols=("doc_id",))
    t2 = LakeTable(root, stats_cols=("doc_id",))
    base = t1.append(docs.filter("doc_id < 10"))
    a = docs.filter("doc_id >= 10 AND doc_id < 20")
    b = docs.filter("doc_id >= 20 AND doc_id < 30")
    # interleave: both writers derive from `base`; writer A commits first,
    # writer B's append (expected_parent=base) must rebase onto A's commit
    fs_a = t1._write_files(a, None, 2)
    fs_b = t2._write_files(b, None, 2)
    sid_a = t1._commit("append", t1._collect_file_stats(fs_a), None,
                       expected_parent=base)
    sid_b = t2._commit("append", t2._collect_file_stats(fs_b), None,
                       expected_parent=base)
    assert sid_b > sid_a
    snap_b = t1.snapshot(sid_b)
    assert snap_b["parent_id"] == sid_a  # rebased, not forked
    got = sorted(r["doc_id"] for r in t1.read(spark).select("doc_id").collect())
    assert got == sorted(
        r["doc_id"] for r in docs.filter("doc_id < 30").select("doc_id").collect()
    )


def test_concurrent_derived_commit_aborts_then_retry_succeeds(spark, docs, tmp_path):
    """A merge computed from a stale base must raise CommitConflictError
    (no silent clobber of the concurrent append); the public merge() retries
    against the new base automatically and lands both changes."""
    from raptor_rag_spark.sources.lakehouse import CommitConflictError

    root = str(tmp_path / "t")
    t1 = LakeTable(root, stats_cols=("doc_id",))
    t2 = LakeTable(root, stats_cols=("doc_id",))
    base = t1.append(docs.filter("doc_id < 10"))

    # writer B prepares an overwrite-class commit derived from `base`
    derived = t2.read(spark, base).withColumn("lang", F.lit("xx"))
    fs_b = t2._write_files(derived, None, 2)
    added_b = t2._collect_file_stats(fs_b)
    # writer A lands an append in between
    t1.append(docs.filter("doc_id >= 10 AND doc_id < 15"))
    with pytest.raises(CommitConflictError):
        t2._commit("overwrite", added_b, None, expected_parent=base)

    # the PUBLIC merge() retries from the new current: the appended rows
    # survive and the upsert applies
    ups = docs.filter("doc_id < 5").withColumn("lang", F.lit("zz"))
    t2.merge(ups, key_cols=["doc_id"], value_cols=["text", "lang"])
    out = t1.read(spark)
    assert out.count() == 15
    assert out.filter("lang = 'zz'").count() == 5


def test_commit_lock_breaks_stale_and_times_out(tmp_path):
    """A lock left by a killed writer is broken after stale_s; a live lock
    makes a second committer wait and then TimeoutError past timeout_s."""
    root = str(tmp_path / "t")
    os.makedirs(root, exist_ok=True)
    t = LakeTable(root, stats_cols=())
    lock = os.path.join(root, "_commit.lock")
    with open(lock, "w") as f:
        f.write("dead")
    past = os.path.getmtime(lock) - 1000
    os.utime(lock, (past, past))
    with t._commit_lock(timeout_s=1.0, stale_s=120.0):
        pass  # stale lock was broken
    assert not os.path.exists(lock)
    with open(lock, "w") as f:
        f.write("live")
    with pytest.raises(TimeoutError):
        with t._commit_lock(timeout_s=0.3, stale_s=120.0):
            pass
    os.unlink(lock)


def test_commit_stats_from_footers_read_nothing_back(spark, tmp_path, spark_jobs):
    """A commit's per-file (rows, [min, max]) come from the parquet footers:
    0 Spark jobs, and the same values a groupBy(input_file_name()) over the
    fileset gives. A stats column that is all null in a file rolls up to
    None; 0-row files are left out; paths stay file: URIs, so orphan and
    snapshot GC still match them."""
    root = str(tmp_path / "t")
    t = LakeTable(root, stats_cols=("doc_id", "k"))
    nulls = spark.range(0, 10).select(F.col("id").alias("doc_id"), F.lit(None).cast("long").alias("k"))
    vals = spark.range(10, 40).select(F.col("id").alias("doc_id"), (F.col("id") * 3).alias("k"))
    fileset = t._write_files(nulls.repartition(1).union(vals.repartition(3)), None, 4)
    with spark_jobs() as jobs:
        added = t._collect_file_stats(fileset)
    assert len(jobs) == 0

    want = {
        r["path"]: (r["rows"], {"doc_id": [r["lo"], r["hi"]], "k": [r["klo"], r["khi"]]})
        for r in spark.read.parquet(fileset)
        .groupBy(F.input_file_name().alias("path"))
        .agg(F.count("*").alias("rows"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
             F.min("k").alias("klo"), F.max("k").alias("khi"))
        .collect()
    }
    assert {e["path"]: (e["rows"], e["stats"]) for e in added} == want
    assert len(added) == 4 and all(e["path"].startswith("file:") for e in added)
    assert [None, None] in [e["stats"]["k"] for e in added]
    assert t._rollup(added) == {"doc_id": [0, 39], "k": None}

    empty_fs = t._write_files(nulls.limit(0), None, 1)
    assert t._collect_file_stats(empty_fs) == []

    sid = t._commit("append", added)
    assert t.read(spark, sid).count() == 40
    assert t.scan(spark, "doc_id", 12, 14).count() == 3
    # the empty fileset is referenced by no manifest: an orphan
    assert t.vacuum_orphans() == [empty_fs]
    t.append(vals.limit(5))
    t.overwrite(vals.limit(2))
    assert fileset in t.expire_snapshots(keep_last=1)
