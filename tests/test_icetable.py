"""icetable snapshot semantics: append/overwrite/time-travel/rollback/atomicity."""

from __future__ import annotations

import os

import pytest

from paperchase_crawler_spark.sources.icetable import IceTable


@pytest.fixture
def tbl(tmp_path):
    return IceTable(str(tmp_path / "t"))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_append_and_time_travel(spark, tbl):
    s0 = tbl.append(_df(spark, [1, 2]))
    s1 = tbl.append(_df(spark, [3]))
    assert tbl.snapshot_ids() == [0, 1]
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.x for r in tbl.read(spark, s0).collect()) == [1, 2]
    assert tbl.snapshot(s1)["parent"] == s0
    assert tbl.snapshot(s1)["total_rows"] == 3


def test_overwrite_and_rollback(spark, tbl):
    tbl.append(_df(spark, [1, 2]))
    tbl.overwrite(_df(spark, [9]))
    assert sorted(r.x for r in tbl.read(spark).collect()) == [9]
    tbl.rollback(0)
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1, 2]
    # rolled-back-over snapshot still time-travelable
    assert sorted(r.x for r in tbl.read(spark, 1).collect()) == [9]


def test_lineage_row_counts(spark, tbl):
    tbl.append(_df(spark, range(10)), meta={"round": 1})
    snap = tbl.snapshot()
    assert sum(snap["row_counts"].values()) == 10
    assert snap["meta"]["round"] == 1


def test_readers_use_file_list_not_listing(spark, tbl):
    tbl.append(_df(spark, [1]))
    # drop an orphan parquet dir next to real data: reader must ignore it
    orphan = os.path.join(tbl.data_dir, "orphan")
    _df(spark, [999]).write.parquet(orphan)
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1]
    assert tbl.expire_orphans() == 1
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1]


def test_commit_empty_carries_meta(spark, tbl):
    tbl.append(_df(spark, [1, 2]), meta={"round": 1})
    sid = tbl.commit_empty(meta={"round": 2, "note": "metadata-only"})
    snap = tbl.snapshot(sid)
    assert snap["op"] == "meta" and snap["meta"]["note"] == "metadata-only"
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1, 2]


def test_expire_snapshots_retention(spark, tbl):
    for i in range(6):
        tbl.overwrite(_df(spark, [i]))
    assert len(tbl.snapshot_ids()) == 6
    n_dirs_before = len(os.listdir(tbl.data_dir))
    removed = tbl.expire_snapshots(keep_last=2)
    assert removed == 4
    assert tbl.snapshot_ids() == [4, 5]
    # expired snapshots' data dirs were vacuumed; current still reads
    assert len(os.listdir(tbl.data_dir)) < n_dirs_before
    assert sorted(r.x for r in tbl.read(spark).collect()) == [5]
    assert sorted(r.x for r in tbl.read(spark, 4).collect()) == [4]


def test_rollback_to_empty_and_no_id_reuse(spark, tbl):
    tbl.append(_df(spark, [1]))      # snap 0
    tbl.append(_df(spark, [2]))      # snap 1
    tbl.rollback(0)
    # ids are never reused: the next commit must NOT overwrite snap-1
    sid = tbl.append(_df(spark, [7]))
    assert sid == 2 and tbl.snapshot(sid)["parent"] == 0
    assert sorted(r.x for r in tbl.read(spark, 1).collect()) == [1, 2]
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1, 7]
    # rollback(None) → never-committed state; next commit gets a fresh id
    tbl.rollback(None)
    assert tbl.current_snapshot_id() is None
    sid2 = tbl.append(_df(spark, [9]))
    assert sid2 == 3 and tbl.snapshot(sid2)["parent"] is None
    assert sorted(r.x for r in tbl.read(spark).collect()) == [9]


def test_version_pointer_is_last(spark, tbl):
    tbl.append(_df(spark, [1]))
    # snapshot file for id 1 exists only if VERSION points at it; simulate a
    # crash mid-commit by writing data without committing: invisible to readers
    files, counts = tbl._write_data(_df(spark, [2]), 99)
    assert sorted(r.x for r in tbl.read(spark).collect()) == [1]


def test_manifest_metadata_is_o_touched_buckets(spark, tmp_path):
    """The r3 verdict's last design-point scale term: every commit used to
    rewrite one snap-N.json carrying ALL files + row counts + zones, so
    snapshot bytes grew with total file count. With manifest sharding a
    delta commit must write (a) manifests ONLY for touched buckets and (b)
    an O(buckets) snapshot whose size is INDEPENDENT of accumulated files."""
    import glob
    import os

    from pyspark.sql import functions as F

    t = IceTable(str(tmp_path / "m"))
    NB = 64
    base = spark.range(0, 6400).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(NB)).cast("int").alias("__fb")
    )
    t.overwrite_bucketed(base, n_buckets=NB)

    def snap_bytes():
        sid = t.current_snapshot_id()
        return os.path.getsize(os.path.join(t.meta_dir, f"snap-{sid}.json"))

    def delta(lo):
        # rows landing in exactly two buckets: 3 and 7
        return spark.range(lo, lo + 20).select(
            F.col("id").alias("k"),
            (F.pmod("id", F.lit(2)) * 4 + 3).cast("int").alias("__fb"),
        ).repartition(2, F.col("__fb"))

    t.append_bucketed_delta(delta(10_000))
    size_after_1 = snap_bytes()
    for i in range(9):
        t.append_bucketed_delta(delta(20_000 + i * 100))
    size_after_10 = snap_bytes()
    sid = t.current_snapshot_id()
    # (a) only the two touched buckets' manifests were written this commit
    assert t.last_touched_buckets == 2
    written = glob.glob(os.path.join(t.manifest_dir, f"m-{sid}-*.json"))
    assert len(written) == 2
    # (b) snapshot size is flat while the table accumulated 18 more files
    assert size_after_10 < size_after_1 * 1.2
    # and the snapshot carries NO per-file inline lists
    snap = t.snapshot()
    assert snap["files"] == [] and snap["row_counts"] == {}
    # data correctness through the manifest plane
    assert t.read(spark).count() == 6400 + 10 * 20
    plan = t.bucket_plan()
    assert len(plan) == NB
    assert len(plan["3"]["delta"]) == 10 and len(plan["0"]["delta"]) == 0
    # scoped plan opens only requested buckets
    assert set(t.bucket_plan(buckets=["3", "7"])) == {"3", "7"}
    # summaries carry the per-bucket accounting planners need
    summ = t.bucket_summaries()
    assert summ["3"]["delta_rows"] == 100 and summ["0"]["delta_rows"] == 0
    delta_rows = sum(s["delta_rows"] for s in summ.values())
    base_rows = sum(s["base_rows"] for s in summ.values())
    assert abs(delta_rows / base_rows - 200 / 6400) < 1e-9
    # (c) retention vacuums manifests no surviving snapshot references
    n_manifests_before = len(os.listdir(t.manifest_dir))
    t.expire_snapshots(keep_last=1)
    n_manifests_after = len(os.listdir(t.manifest_dir))
    assert n_manifests_after < n_manifests_before
    assert t.read(spark).count() == 6400 + 10 * 20  # current snapshot intact


def test_snapshot_summaries_are_o_touched_delta_encoded(spark, tmp_path):
    """r5: snap-N.json itself must be O(TOUCHED buckets) for a delta commit
    — the r4 format rewrote every bucket's summary into every snapshot
    (~3.5 MB/commit at 10⁵ buckets). Kept-format contract: untouched
    buckets inherit by ``prev`` chain, a full rollup lands every
    ROLLUP_EVERY commits, resolution is exact at every snapshot (time
    travel included), and retention REWRITES kept snapshots self-contained
    instead of pinning expired chain ancestors' data."""
    import os

    from pyspark.sql import functions as F

    t = IceTable(str(tmp_path / "d"))
    NB = 256
    base = spark.range(0, NB * 20).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(NB)).cast("int").alias("__fb")
    )
    t.overwrite_bucketed(base, n_buckets=NB)

    def snap_bytes(sid=None):
        sid = sid if sid is not None else t.current_snapshot_id()
        return os.path.getsize(os.path.join(t.meta_dir, f"snap-{sid}.json"))

    full_size = snap_bytes()

    def delta(lo):
        return spark.range(lo, lo + 8).select(
            F.col("id").alias("k"),
            (F.pmod("id", F.lit(2)) * 4 + 3).cast("int").alias("__fb"),
        ).repartition(2, F.col("__fb"))

    t.append_bucketed_delta(delta(10_000))
    d1 = snap_bytes()
    # a 2-of-256-bucket delta snapshot is a small fraction of the full one
    assert d1 < full_size / 10, (d1, full_size)
    # resolution is exact: all buckets visible, rows correct
    assert len(t.bucket_summaries()) == NB
    assert t.read(spark).count() == NB * 20 + 8
    first_delta_sid = t.current_snapshot_id()

    # chain stays flat until the rollup, which lands every ROLLUP_EVERY
    # commits and resets depth
    sizes = []
    for i in range(t.ROLLUP_EVERY + 2):
        t.append_bucketed_delta(delta(20_000 + i * 100))
        sizes.append((snap_bytes(), t.snapshot()["meta"]["buckets"]["prev"]))
    assert any(prev is None for _, prev in sizes)  # a rollup happened
    deltas = [s for s, prev in sizes if prev is not None]
    assert max(deltas) < full_size / 10  # every delta snap stays O(touched)
    # rollup snapshot is self-contained AND resolves identically
    assert t.read(spark).count() == NB * 20 + 8 * (t.ROLLUP_EVERY + 3)
    assert len(t.bucket_plan()) == NB

    # time travel through the chain
    assert len(t.bucket_summaries(first_delta_sid)) == NB

    # retention: keep_last=1 must vacuum old snapshots/data — the kept
    # snapshot is rewritten self-contained, not left dangling on a chain
    n_snaps_before = len(t.snapshot_ids())
    t.expire_snapshots(keep_last=1)
    assert len(t.snapshot_ids()) < n_snaps_before
    cur_bk = t.snapshot()["meta"]["buckets"]
    assert cur_bk.get("prev") is None or "manifests" in cur_bk
    assert t.read(spark).count() == NB * 20 + 8 * (t.ROLLUP_EVERY + 3)
    assert len(t.bucket_summaries()) == NB
