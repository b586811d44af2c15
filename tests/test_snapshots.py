"""Snapshot log over parquet (sources/snapshots.py): isolation, time travel,
manifest min/max pruning, commit-conflict detection, image-table wiring."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.sources.iceberg import (
    read_image_table,
    write_image_table,
)
from incubator_sedona_spark.sources.snapshots import (
    CommitConflictError,
    SnapshotTable,
    has_snapshot_log,
)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )


def test_append_time_travel_and_isolation(spark, tmp_path):
    loc = str(tmp_path / "t1")
    t = SnapshotTable(loc)
    s1 = t.append(_batch(spark, 0, 100))
    s2 = t.append(_batch(spark, 100, 250))
    s3 = t.append(_batch(spark, 250, 300))
    assert (s1, s2, s3) == (1, 2, 3)

    assert t.read(spark).count() == 300  # latest
    assert t.read(spark, snapshot_id=1).count() == 100
    assert t.read(spark, snapshot_id=2).count() == 250
    # pinned snapshot is immutable even after later appends
    pinned = t.read(spark, snapshot_id=1)
    t.append(_batch(spark, 300, 310))
    assert pinned.count() == 100
    assert t.read(spark).count() == 310

    # as-of-timestamp picks the last snapshot at or before ts
    snaps = t.snapshots()
    ts2 = snaps[1]["ts_ms"]
    assert t.read(spark, as_of_timestamp=ts2).count() == 250
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.read(spark, as_of_timestamp=snaps[0]["ts_ms"] - 10_000)
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        t.read(spark, snapshot_id=99)


def test_overwrite_keeps_old_snapshots(spark, tmp_path):
    loc = str(tmp_path / "t2")
    t = SnapshotTable(loc)
    t.append(_batch(spark, 0, 50))
    t.append(_batch(spark, 50, 80))
    s3 = t.overwrite(_batch(spark, 1000, 1010))
    assert t.read(spark).count() == 10
    assert t.read(spark).agg(F.min("id")).first()[0] == 1000
    # history intact
    assert t.read(spark, snapshot_id=2).count() == 80
    assert t.snapshots()[-1]["operation"] == "overwrite"
    # append after overwrite extends the new lineage only
    t.append(_batch(spark, 1010, 1015))
    assert t.read(spark).count() == 15
    assert s3 == 3


def test_manifest_minmax_pruning_skips_files(spark, tmp_path):
    loc = str(tmp_path / "t3")
    t = SnapshotTable(loc)
    # two appends with disjoint id ranges -> disjoint file stats
    t.append(_batch(spark, 0, 1000).repartition(2))
    t.append(_batch(spark, 100000, 101000).repartition(2))
    all_files = {f["path"] for f in t.file_stats()}
    assert len(all_files) == 4

    lo_df = t.read(spark, prune={"id": (0, 500)})
    assert set(lo_df.inputFiles()) < {"file:" + p for p in all_files} or len(
        lo_df.inputFiles()
    ) < len(all_files)
    # pruning is exact here because ranges are disjoint per file
    assert lo_df.count() == 1000
    assert lo_df.agg(F.max("id")).first()[0] == 999

    # conservative: prune + residual filter == plain filter
    both = t.read(spark, prune={"id": (100500, 100600)}).where(
        F.col("id").between(100500, 100600)
    )
    plain = t.read(spark).where(F.col("id").between(100500, 100600))
    assert both.count() == plain.count() == 101

    with pytest.raises(ValueError, match="no data files after pruning"):
        t.read(spark, prune={"id": (10**9, 10**9 + 1)})


def test_manifest_lists_files_in_path_order(spark, tmp_path):
    """The manifest lists a commit's data files in sorted path order, the
    order the write returns them in, not the order their stats tasks
    finished; each file's stats stay its own."""
    t = SnapshotTable(str(tmp_path / "t_order"))
    t.append(_batch(spark, 0, 1200).repartitionByRange(12, "id"))
    stats = t.file_stats()
    paths = [f["path"] for f in stats]
    assert len(paths) == 12 and paths == sorted(paths)
    for f in stats:
        assert f["rows"] == spark.read.parquet(f["path"]).count()
        lo, hi = spark.read.parquet(f["path"]).agg(F.min("id"), F.max("id")).first()
        assert (f["min"]["id"], f["max"]["id"]) == (lo, hi)


def test_string_stats_prune(spark, tmp_path):
    loc = str(tmp_path / "t4")
    t = SnapshotTable(loc)
    a = spark.createDataFrame([("apple", 1), ("berry", 2)], "name string, v int")
    b = spark.createDataFrame([("xylo", 3), ("zebra", 4)], "name string, v int")
    t.append(a.coalesce(1))
    t.append(b.coalesce(1))
    got = t.read(spark, prune={"name": ("a", "c")})
    assert {r["name"] for r in got.collect()} == {"apple", "berry"}


def test_commit_conflict_raises(spark, tmp_path, monkeypatch):
    """The true race: two writers compute the same next version; the loser's
    atomic link hits the winner's file.  (A version file that simply already
    exists when a writer starts is adopted by the scan in _current_version —
    that is recovery, not a conflict.)"""
    import json as _json

    import incubator_sedona_spark.sources.snapshots as S

    loc = str(tmp_path / "t5")
    t = SnapshotTable(loc)
    t.append(_batch(spark, 0, 10))
    # the "winner" lands v2 after this writer has read version 1
    snaps_v1 = t.snapshots()
    with open(os.path.join(loc, "metadata", "v2.json"), "w") as f:
        _json.dump({"format_version": 2, "current_snapshot_id": 1,
                    "snapshots": snaps_v1}, f)
    monkeypatch.setattr(S, "_current_version", lambda loc_: 1)
    with pytest.raises(CommitConflictError, match="committed concurrently"):
        t.append(_batch(spark, 10, 20))


def test_image_table_snapshot_log_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "imgs")
    rows = [
        ("i%03d" % i, bytes([i % 251] * 16), 4, 4, "png", "cap %d" % i, i * 7)
        for i in range(20)
    ]
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash bigint"
    )
    df = spark.createDataFrame(rows[:12], schema)
    df2 = spark.createDataFrame(rows[12:], schema)
    write_image_table(df, loc, snapshot_log=True)
    write_image_table(df2, loc)  # log detected -> appends a snapshot
    assert has_snapshot_log(loc)
    assert read_image_table(spark, loc).count() == 20
    first = read_image_table(spark, loc, snapshot_id=1)
    assert first.count() == 12
    got = {r["image_id"]: r["caption"] for r in first.collect()}
    assert got["i003"] == "cap 3"
    # binary column carries no stats but must not break the manifest
    stats = SnapshotTable(loc).file_stats()
    assert all("bytes" not in f["min"] for f in stats)
    assert any("phash" in f["min"] for f in stats)


def test_plain_parquet_still_loud_without_log(spark, tmp_path):
    loc = str(tmp_path / "plain")
    rows = [("a", b"\x00", 1, 1, "png", "c", 0)]
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash bigint"
    )
    spark.createDataFrame(rows, schema).write.parquet(loc)
    with pytest.raises(NotImplementedError, match="snapshot log"):
        read_image_table(spark, loc, snapshot_id=1)


def test_orphan_files_after_lost_race(spark, tmp_path):
    """A writer that loses the version race leaves data + manifest on disk;
    neither corrupts the winner, and orphan_files lists exactly the loser's
    data files."""
    loc = str(tmp_path / "t6")
    t = SnapshotTable(loc)
    t.append(_batch(spark, 0, 10))
    assert t.orphan_files() == []

    # simulate the loser: its data directory + manifest land, then the
    # version-2 commit loses the race (winner's v2 appears after this
    # writer read version 1 — pinned via _current_version)
    import json

    import incubator_sedona_spark.sources.snapshots as S

    snaps_v1 = SnapshotTable(loc).snapshots()
    v2 = os.path.join(loc, "metadata", "v2.json")
    with open(v2, "w") as f:
        json.dump({"format_version": 2, "current_snapshot_id": 1,
                   "snapshots": snaps_v1}, f)
    real_cv = S._current_version
    S._current_version = lambda loc_: 1
    try:
        with pytest.raises(CommitConflictError):
            t.append(_batch(spark, 10, 20))
    finally:
        S._current_version = real_cv
    os.remove(v2)  # retract the placeholder so version 1 is current again

    orphans = t.orphan_files()
    assert len(orphans) >= 1
    # the committed snapshot's files are NOT listed as orphans
    committed = {f["path"] for f in t.file_stats()}
    assert committed.isdisjoint(set(orphans))
    # and reads are unaffected by the orphan debris
    assert t.read(spark).count() == 10
    # a later successful append still works and doesn't adopt orphans
    t.append(_batch(spark, 50, 55))
    assert t.read(spark).count() == 15
    assert set(t.orphan_files()) == set(orphans)


def test_expire_snapshots_and_schema_evolution(spark, tmp_path):
    loc = str(tmp_path / "t7")
    t = SnapshotTable(loc)
    t.append(_batch(spark, 0, 10).coalesce(1))
    t.append(_batch(spark, 10, 30).coalesce(1))
    # commit 3 adds a column: schema evolution across snapshots
    evolved = _batch(spark, 30, 35).withColumn("extra", F.lit("new")).coalesce(1)
    t.append(evolved)

    # merged-schema read: union schema, old rows NULL for the new column
    allr = t.read(spark, merge_schema=True)
    assert set(allr.columns) == {"id", "val", "extra"}
    assert allr.count() == 35
    assert allr.where(F.col("extra").isNull()).count() == 30

    # expire all but the last 2 snapshots: in an APPEND lineage newer
    # snapshots still reference the old files (cumulative manifests), so
    # nothing is freed — the Iceberg semantics
    freed = t.expire_snapshots(keep_last=2)
    assert freed == []
    assert [s["snapshot_id"] for s in t.snapshots()] == [2, 3]
    assert t.read(spark, snapshot_id=2).count() == 30
    # the expired id is gone, loudly
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        t.read(spark, snapshot_id=1)

    # idempotent when nothing to expire; loud on bad args
    assert t.expire_snapshots(keep_last=5) == []
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)

    # an overwrite cuts the lineage: expiring the pre-overwrite snapshots
    # NOW frees their files (3 data files from snapshots 2+3)
    t.overwrite(_batch(spark, 500, 504).coalesce(1))
    freed2 = t.expire_snapshots(keep_last=1, delete=True)
    assert len(freed2) == 3
    assert all(not os.path.exists(p) for p in freed2)
    assert [s["snapshot_id"] for s in t.snapshots()][-1] >= 4

    # appends continue on the compacted log; no orphan debris
    t.append(_batch(spark, 100, 104).coalesce(1))
    assert t.read(spark).count() == 8
    assert t.orphan_files() == []


def test_crash_window_recovery_without_hint(spark, tmp_path):
    """A writer that died between the atomic version link and the hint
    update must not brick the table: reads scan past the stale hint and
    the next append continues the version chain."""
    loc = str(tmp_path / "t8")
    t = SnapshotTable(loc)
    t.append(_batch(spark, 0, 5))
    t.append(_batch(spark, 5, 9))
    hint = os.path.join(loc, "metadata", "version-hint.text")
    # stale hint (crash before update)
    with open(hint, "w") as f:
        f.write("1")
    assert t.read(spark).count() == 9  # scan finds v2
    assert t.append(_batch(spark, 9, 12)) == 3
    # hint missing entirely
    os.remove(hint)
    assert has_snapshot_log(loc)
    assert t.read(spark).count() == 12
    # torn/empty hint must not crash readers
    with open(hint, "w") as f:
        f.write("")
    assert t.read(spark).count() == 12


def test_prune_incomparable_bounds_conservative(spark, tmp_path):
    """String-serialized stats vs non-string bounds: the file is KEPT
    (conservative), never a crash or a wrong skip."""
    loc = str(tmp_path / "t9")
    t = SnapshotTable(loc)
    t.append(
        spark.createDataFrame([("alpha", 1), ("beta", 2)], "name string, v int")
        .coalesce(1)
    )
    got = t.read(spark, prune={"name": (1, 5)})  # int bounds on string stats
    assert got.count() == 2


def test_snapshot_log_refuses_plain_parquet_location(spark, tmp_path):
    """Starting a snapshot log next to pre-existing plain parquet would hide
    those rows from every read — must fail loudly, not lose data."""
    loc = str(tmp_path / "plain2")
    rows = [("a", b"\x00", 1, 1, "png", "c", 0)]
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash bigint"
    )
    spark.createDataFrame(rows, schema).write.parquet(loc)
    with pytest.raises(ValueError, match="hide them from all reads"):
        write_image_table(
            spark.createDataFrame(rows, schema), loc, snapshot_log=True
        )


def test_copied_table_reads_and_frees_only_its_own_files(spark, tmp_path):
    """Manifests store data-file paths relative to the table, so a copied
    table reads its own files, lists none of them as orphans, and expiring
    its snapshots deletes only files under the copy."""
    import shutil

    src, dst = str(tmp_path / "orig"), str(tmp_path / "copy")
    t = SnapshotTable(src)
    t.append(_batch(spark, 0, 10).coalesce(1))
    t.append(_batch(spark, 10, 20).coalesce(1))
    shutil.copytree(src, dst)
    c = SnapshotTable(dst)

    assert all(f["path"].startswith(dst + os.sep) for f in c.file_stats())
    assert c.read(spark).count() == 20
    assert c.orphan_files() == []

    c.overwrite(_batch(spark, 100, 103).coalesce(1))
    freed = c.expire_snapshots(keep_last=1, delete=True)
    assert len(freed) == 2 and all(p.startswith(dst + os.sep) for p in freed)
    assert c.read(spark).count() == 3
    assert t.read(spark).count() == 20  # the original keeps every file


def test_commit_reads_footers_without_a_spark_job(spark, tmp_path):
    """A commit reads the new files' footers on the driver: after the data
    write, recording the snapshot starts no Spark job."""
    t = SnapshotTable(str(tmp_path / "t9"))
    files = t._write_data(_batch(spark, 0, 40), 1)
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-commit", "commit only")
    try:
        assert t._commit("append", files) == 1
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("snapshot-commit")) == []
    assert [f["rows"] for f in t.file_stats()] == [
        spark.read.parquet(f).count() for f in files
    ]


def test_decimal_column_commits_without_a_range(spark, tmp_path):
    """pyarrow cannot read a decimal column's footer min/max; the column
    keeps no range (pruning keeps every file) instead of failing the
    commit."""
    t = SnapshotTable(str(tmp_path / "t10"))
    df = _batch(spark, 0, 30).withColumn("dec", (F.col("val") / 7).cast("decimal(10,4)"))
    t.append(df)
    stats = t.file_stats()
    assert all("dec" not in f["min"] and "id" in f["min"] for f in stats)
    assert t.read(spark, prune={"dec": (0, 1)}).count() == 30
