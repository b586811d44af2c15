"""Streaming parity: engine ops run unchanged under Structured Streaming
(reference contract: python/tests/streaming/spark/test_constructor_functions.py:327-336)."""

import numpy as np
import pytest

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.streaming.ops import streaming_enrich, streaming_tile_counts


def test_streaming_enrich_and_counts(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    rng = np.random.default_rng(9)
    pdf = [(float(x), float(y)) for x, y in rng.uniform(0, 100, (200, 2))]
    batch = spark.createDataFrame(pdf, "x double, y double")
    batch.write.parquet(src)

    stream = spark.readStream.schema("x double, y double").parquet(src)
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    counts = streaming_tile_counts(stream, grid, "x", "y", (0.0, 0.0, 100.0, 100.0), 16)
    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(cnt) AS total FROM tile_counts").collect()[0].total
    assert got == 200
    # batch/stream parity: same counts as the batch plan
    batch_counts = (
        streaming_enrich(batch, grid, "x", "y", (0.0, 0.0, 100.0, 100.0), 16)
        .groupBy("tile_x", "tile_y")
        .count()
    )
    stream_counts = {(r.tile_x, r.tile_y): r.cnt for r in spark.sql("SELECT * FROM tile_counts").collect()}
    for r in batch_counts.collect():
        assert stream_counts[(r.tile_x, r.tile_y)] == r["count"]


def test_streaming_stateful_exact_dedup(spark, tmp_path):
    """Cross-micro-batch dedup: duplicates arriving in LATER micro-batches are
    dropped by the applyInPandasWithState operator (maxFilesPerTrigger=1
    forces one micro-batch per file)."""
    from incubator_sedona_spark.streaming.ops import streaming_exact_dedup

    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    b1 = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text"), (2, "alpha text")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "alpha text"), (4, "gamma text"), (5, "beta text")], "doc_id long, text string"
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM dedup_out ORDER BY doc_id").collect()
    texts = [r.text for r in rows]
    assert sorted(texts) == ["alpha text", "beta text", "gamma text"]
    # first-seen-id-wins within a batch; later-batch duplicates never emit
    by_text = {r.text: r.doc_id for r in rows}
    assert by_text["alpha text"] in (0, 2) and by_text["beta text"] == 1
    assert by_text["gamma text"] == 4


def test_streaming_dedup_ttl_eviction(spark, tmp_path):
    """3-batch eviction proof: (1) in-window duplicates drop, (2) a key with
    no traffic past the TTL is EVICTED (state removed on a later trigger),
    (3) a post-eviction re-arrival re-emits as a fresh first occurrence —
    i.e. state size stays bounded by the TTL window while in-window dedup
    holds."""
    import time

    from incubator_sedona_spark.streaming.ops import streaming_exact_dedup

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    b1 = spark.createDataFrame(
        [(0, "alpha text"), (1, "alpha text")], "doc_id long, text string"
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # 0.05 min = 3 s TTL
    out = streaming_exact_dedup(stream, timeout_minutes=0.05)
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def _wait_rows(n, timeout_s=120):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ttl_out").collect()[0].c >= n:
                return
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows")

    try:
        _wait_rows(1)  # batch 1: alpha emitted once (in-batch duplicate dropped)
        time.sleep(5.0)  # > TTL with no alpha traffic
        # batch 2: unrelated key — the trigger where alpha's timeout fires
        spark.createDataFrame([(4, "beta text")], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        _wait_rows(2)
        time.sleep(2.0)  # give the eviction trigger time to run
        # batch 3: alpha re-arrives AFTER eviction -> re-emitted
        spark.createDataFrame([(9, "alpha text")], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        _wait_rows(3)
        rows = spark.sql("SELECT * FROM ttl_out ORDER BY doc_id").collect()
    finally:
        q.stop()
    ids = [r.doc_id for r in rows]
    assert 0 in ids and 1 not in ids  # in-window duplicate dropped
    assert 4 in ids
    assert 9 in ids  # post-eviction re-emit proves the state row was removed


def test_streaming_spatial_join_parity(spark, tmp_path):
    """The core spatial_join runs UNCHANGED as a stream-static inner join
    (static polygons x streaming points) and matches the batch result —
    beyond the reference, whose streaming tests cover constructors only."""
    from pyspark.sql import functions as F

    from incubator_sedona_spark.functions.st import st_polygon_from_envelope
    from incubator_sedona_spark.operators.joins import spatial_join

    src = str(tmp_path / "pts_src")
    rng = np.random.default_rng(21)
    pdf = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (300, 2)))]
    batch_pts = spark.createDataFrame(pdf, "pid long, x double, y double")
    batch_pts.write.parquet(src)

    zones = spark.createDataFrame(
        [(z, (z % 3) * 30.0, (z // 3) * 30.0) for z in range(9)],
        "zone_id long, x0 double, y0 double",
    ).select(
        "zone_id",
        st_polygon_from_envelope(
            F.col("x0"), F.col("y0"), F.col("x0") + 25.0, F.col("y0") + 25.0
        ).alias("wkb"),
    )
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)

    expected = {
        (r.zone_id, r.pid)
        for r in spatial_join(
            zones, batch_pts, "contains", grid=grid, right_point_cols=("x", "y")
        ).collect()
    }
    assert len(expected) > 50

    stream_pts = spark.readStream.schema("pid long, x double, y double").parquet(src)
    joined = spatial_join(
        zones, stream_pts, "contains", grid=grid, right_point_cols=("x", "y")
    )
    q = (
        joined.select("zone_id", "pid")
        .writeStream.format("memory")
        .queryName("stream_pip")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.zone_id, r.pid) for r in spark.sql("SELECT * FROM stream_pip").collect()}
    assert got == expected


def test_streaming_spatial_join_dict_salt(spark, tmp_path):
    """Skew salting under Structured Streaming: AQE cannot re-plan a
    streaming join, so a KNOWN hot cell (e.g. from the metrics ledger of
    prior batches) is salted via the dict form — output identical to the
    unsalted stream-static join.  salt=True (pre-aggregate detection) must
    refuse loudly on a streaming side."""
    from pyspark.sql import functions as F

    from incubator_sedona_spark.functions.st import st_polygon_from_envelope
    from incubator_sedona_spark.operators.joins import spatial_join

    src = str(tmp_path / "pts_salt_src")
    rng = np.random.default_rng(5)
    # half the points planted inside one cell
    xs = np.concatenate([rng.uniform(0, 100, 200), rng.uniform(40.1, 40.9, 200)])
    ys = np.concatenate([rng.uniform(0, 100, 200), rng.uniform(40.1, 40.9, 200)])
    pdf = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    spark.createDataFrame(pdf, "pid long, x double, y double").write.parquet(src)

    zones = spark.createDataFrame(
        [(z, (z % 3) * 30.0, (z // 3) * 30.0) for z in range(9)],
        "zone_id long, x0 double, y0 double",
    ).select(
        "zone_id",
        st_polygon_from_envelope(
            F.col("x0"), F.col("y0"), F.col("x0") + 25.0, F.col("y0") + 25.0
        ).alias("wkb"),
    )
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    hot_cell = int(
        spark.read.parquet(src)
        .select(grid.point_cell_col(F.col("x"), F.col("y")).alias("c"))
        .groupBy("c").count().orderBy(F.desc("count")).first()["c"]
    )

    expected = {
        (r.zone_id, r.pid)
        for r in spatial_join(
            zones, spark.read.parquet(src), "contains", grid=grid,
            right_point_cols=("x", "y"),
        ).collect()
    }

    stream_pts = spark.readStream.schema("pid long, x double, y double").parquet(src)
    with pytest.raises(ValueError, match="streaming"):
        spatial_join(
            zones, stream_pts, "contains", grid=grid,
            right_point_cols=("x", "y"), salt=True,
        )
    joined = spatial_join(
        zones, stream_pts, "contains", grid=grid, right_point_cols=("x", "y"),
        salt={hot_cell: 200},
    )
    q = (
        joined.select("zone_id", "pid")
        .writeStream.format("memory")
        .queryName("stream_pip_salted")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.zone_id, r.pid)
        for r in spark.sql("SELECT * FROM stream_pip_salted").collect()
    }
    assert got == expected


def test_streaming_pack_shards_continues_across_batches(spark, tmp_path):
    """Stateful shard packing: (1) a single micro-batch matches the batch
    next-fit operator exactly; (2) packing CONTINUES from the state store
    across micro-batches — the stream over two files equals the batch op
    over the concatenated corpus (ids ordered so arrival order = doc order)."""
    from incubator_sedona_spark.pipeline.packing import pack_shards_nextfit
    from incubator_sedona_spark.streaming.ops import streaming_pack_shards

    src = str(tmp_path / "pack_src")
    ckpt = str(tmp_path / "pack_ckpt")
    rows1 = [(i, 10 * (1 + i % 7)) for i in range(0, 60)]
    rows2 = [(i, 10 * (1 + i % 7)) for i in range(60, 120)]
    schema = "doc_id long, tokens long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_pack_shards(stream, "tokens", "doc_id", budget=100, n_buckets=4)
    q = (
        out.writeStream.format("memory")
        .queryName("pack_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.doc_id): (r.bucket, r.shard)
        for r in spark.sql("SELECT * FROM pack_out").collect()
    }
    assert len(got) == 120

    batch = spark.createDataFrame(rows1 + rows2, schema)
    expect = {
        r.doc_id: (r.bucket, r.shard)
        for r in pack_shards_nextfit(
            batch, "tokens", "doc_id", budget=100, n_buckets=4
        ).collect()
    }
    assert got == expect


def test_streaming_decontaminate_parity(spark, tmp_path):
    """Stream-static decontamination: the 'clean' stream drops exactly the
    documents the batch operator flags; 'flagged' matches the batch hit
    set."""
    import pandas as pd
    from pyspark.sql import functions as F

    from incubator_sedona_spark.pipeline.decontam import decontaminate
    from incubator_sedona_spark.streaming.ops import streaming_decontaminate

    bench_text = " ".join(f"w{i}" for i in range(20))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                " ".join(f"w{i}" for i in range(14)),          # contaminated
                " ".join(f"x{i}" for i in range(20)),          # clean
                "prefix " + " ".join(f"w{i}" for i in range(5, 19)),  # contaminated
                "short clean doc",                              # clean (under n)
                None,                                           # NULL text: clean, must survive
            ],
        }
    )
    src = str(tmp_path / "decon_src")
    batch = spark.createDataFrame(docs)
    batch.write.parquet(src)
    bench = spark.createDataFrame(pd.DataFrame({"text": [bench_text]}))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    clean_q = (
        streaming_decontaminate(stream, bench, n=13)
        .writeStream.format("memory").queryName("decon_clean")
        .outputMode("append").trigger(availableNow=True).start()
    )
    clean_q.awaitTermination(120)
    flagged_q = (
        streaming_decontaminate(stream, bench, n=13, mode="flagged")
        .writeStream.format("memory").queryName("decon_flagged")
        .outputMode("append").trigger(availableNow=True).start()
    )
    flagged_q.awaitTermination(120)

    batch_hits = {r["doc_id"] for r in decontaminate(batch, bench, n=13).collect()}
    assert batch_hits == {1, 3}
    clean_ids = {r.doc_id for r in spark.sql("SELECT doc_id FROM decon_clean").collect()}
    assert clean_ids == {2, 4, 5}  # incl. the NULL-text doc (no n-grams = clean)
    flagged = spark.sql("SELECT * FROM decon_flagged").collect()
    assert {r.doc_id for r in flagged} == batch_hits
    # per-doc distinct-gram counts equal the batch n_hits
    from collections import Counter

    per_doc = Counter(r.doc_id for r in flagged)
    batch_counts = {r["doc_id"]: r["n_hits"] for r in decontaminate(batch, bench, n=13).collect()}
    assert dict(per_doc) == batch_counts


def test_streaming_substring_screen(spark, tmp_path):
    """Stream-static substring screening: a stream doc containing a >=40-char
    verbatim passage from the reference corpus is removed from 'clean' and
    appears in 'flagged'; batch parity vs substring_dup_pairs."""
    import pandas as pd

    from incubator_sedona_spark.streaming.ops import streaming_substring_screen

    passage = "for score and seven years ago our fathers brought forth a new nation"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "INTRO " + passage + " OUTRO",       # contains the passage: flagged
                "fresh original writing with nothing shared beyond single words here",
                None,                                  # NULL: clean
            ],
        }
    )
    src = str(tmp_path / "screen_src")
    spark.createDataFrame(docs).write.parquet(src)
    ref = spark.createDataFrame(pd.DataFrame({"text": ["... " + passage + " ..."]}))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q1 = (
        streaming_substring_screen(stream, ref)
        .writeStream.format("memory").queryName("screen_clean")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q1.awaitTermination(120)
    q2 = (
        streaming_substring_screen(stream, ref, mode="flagged")
        .writeStream.format("memory").queryName("screen_flagged")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    clean = {r.doc_id for r in spark.sql("SELECT doc_id FROM screen_clean").collect()}
    flagged = {r.doc_id for r in spark.sql("SELECT DISTINCT doc_id FROM screen_flagged").collect()}
    assert clean == {2, 3}
    assert flagged == {1}


def test_streaming_snapshot_sink_commits_per_batch(spark, tmp_path):
    """foreachBatch snapshot ingest: each microbatch lands as one isolated,
    time-travelable snapshot-log commit; a second availableNow run over new
    input appends without touching old snapshots."""
    from incubator_sedona_spark.sources.snapshots import SnapshotTable
    from incubator_sedona_spark.streaming.ops import streaming_snapshot_sink

    src = tmp_path / "src"
    src.mkdir()
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash bigint")

    def _write_batch(name, lo, hi):
        rows = [("i%03d" % i, bytes([i % 200] * 8), 2, 2, "png",
                 "c%d" % i, i) for i in range(lo, hi)]
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))

    _write_batch("b1", 0, 8)
    loc = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = streaming_snapshot_sink(stream, loc, checkpoint_dir=ckpt) \
            .trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    t = SnapshotTable(loc)
    assert t.read(spark).count() == 8
    n_first = len(t.snapshots())
    assert n_first >= 1

    # new files arrive; the resumed query (same checkpoint) commits ONLY them
    _write_batch("b2", 8, 13)
    _write_batch("b3", 13, 15)
    run_once()
    assert t.read(spark).count() == 15
    snaps = t.snapshots()
    assert len(snaps) > n_first
    assert all(s["operation"] == "append" for s in snaps)
    # the pre-resume snapshot is immutable time travel
    assert t.read(spark, snapshot_id=snaps[n_first - 1]["snapshot_id"]).count() == 8
    # a third run with no new input commits nothing
    run_once()
    assert len(t.snapshots()) == len(snaps)


def test_streaming_snapshot_sink_epoch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; the sink stamps (query, epoch_id) into
    the snapshot properties and skips already-committed epochs.  Deleting
    the streaming checkpoint replays the same epochs from scratch — the
    table must not grow."""
    import shutil

    from incubator_sedona_spark.sources.snapshots import SnapshotTable
    from incubator_sedona_spark.streaming.ops import streaming_snapshot_sink

    src = tmp_path / "src2"
    src.mkdir()
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash bigint")
    rows = [("r%02d" % i, b"\x01\x02", 1, 1, "png", "c", i) for i in range(6)]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    loc = str(tmp_path / "table2")
    ckpt = str(tmp_path / "ckpt2")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = streaming_snapshot_sink(stream, loc, checkpoint_dir=ckpt) \
            .trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    t = SnapshotTable(loc)
    assert t.read(spark).count() == 6
    n_snaps = len(t.snapshots())
    assert t.snapshots()[-1]["properties"]["query"] == "snapshot-ingest"

    # simulate lost streaming checkpoint: same epochs replay
    shutil.rmtree(ckpt)
    run_once()
    assert t.read(spark).count() == 6  # no duplicates
    assert len(t.snapshots()) == n_snaps
