"""Janino compiles and JIT time per repetition of one engine chain.

    python tools/codegen_probe.py [--iterations N]
    python tools/codegen_probe.py --oracles DATA_DIR [--iterations N]

Runs a chain N times (default 4) in one ``get_spark`` session and prints,
per iteration: Janino compiles (``CodegenMetrics`` compilation count), their
mean compile time, generated classes (nested ones included), and the
delta of the driver JVM's ``CompilationMXBean`` total JIT time.  In local
mode the executors run in that JVM, so this is all of Spark's compiling.

The default chain, ``image_text_chain``, is the image+caption pass on small
seeded data (``local[4]``): snapshot write/read, ``image_features_df`` ->
rect-zone ``spatial_join`` -> ``assign_tiles``, ``mvt_tiles_df`` ->
``write_tile_pyramid``, ``minhash_lsh_dup_pairs(verify="exact")``,
``exact_jaccard_self_join`` and ``dedup_representatives``.  ``--oracles``
runs every ``__spark_entry__`` query on the tables in DATA_DIR instead
(``local[8]``, as ``tools/check_oracles.py`` does, Spark side only).

When Spark's generated-code cache holds the chain's working set, every
iteration after the first shows 0 compiles.  Mean compile ms is exact while
the metric's 1,028-sample reservoir is not full, and ``nan`` after (or when
nothing compiled).
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from incubator_sedona_spark.cells import Grid  # noqa: E402
from incubator_sedona_spark.operators import joins, mvt, tiling  # noqa: E402
from incubator_sedona_spark.pipeline import components, dedup, setjoin  # noqa: E402
from incubator_sedona_spark.session import get_spark  # noqa: E402
from incubator_sedona_spark.sources import datagen, iceberg, images  # noqa: E402

_RESERVOIR = 1028  # samples a Codahale histogram keeps before it starts replacing


def codegen_counters(spark) -> dict[str, float]:
    """Cumulative codegen and JIT counters of the session's JVM."""
    jvm = spark._jvm
    m = jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = m.METRIC_COMPILATION_TIME()
    snap = hist.getSnapshot()
    return {
        "compiles": hist.getCount(),
        "compile_ms": sum(snap.getValues()) if snap.size() < _RESERVOIR else math.nan,
        "classes": m.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
        "jit_ms": jvm.java.lang.management.ManagementFactory
        .getCompilationMXBean().getTotalCompilationTime(),
    }


def _documents(n: int, seed: int) -> list[str]:
    """``n`` word sequences; every fifth one is an edited copy of an earlier one."""
    rng = np.random.default_rng(seed)
    vocab = ["".join(rng.choice(list("abcdefghij"), size=k)) for k in rng.integers(3, 8, 400)]
    texts = []
    for i in range(n):
        if i % 5 == 4:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "edited"
        else:
            toks = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(20, 60)))]
        texts.append(" ".join(toks))
    return texts


def image_text_chain(spark, workdir: str, n: int = 48, seed: int = 7) -> dict[str, int]:
    """One image+caption pass through the public API; returns its output sizes.

    Writes under a fresh directory in ``workdir`` and removes it after, so
    repeated calls run the same plans on the same data."""
    out = tempfile.mkdtemp(dir=workdir)
    try:
        table, tiles_dir = os.path.join(out, "table"), os.path.join(out, "tiles")
        iceberg.write_image_table(datagen.images_df(spark, n), table, snapshot_log=True)
        pts = images.with_derived_points(
            images.image_features_df(iceberg.read_image_table(spark, table)))
        zones = datagen.zones_df(spark).select("zone_id", "wkb")
        j = joins.spatial_join(zones, pts.select("image_id", "lon", "lat", "dec_ok"), "contains",
                               grid=Grid(0.0, 0.0, 100.01, 100.01, 5),
                               right_point_cols=("lon", "lat"), broadcast="left", left_rect=True)
        tiled = tiling.assign_tiles(j, "lon", "lat", (0.0, 0.0, 100.0, 100.0), 64, 64).persist()
        n_tile_rows = tiled.groupBy("zone_id", "tile_x", "tile_y").count().count()
        feats = tiled.select("tile_x", "tile_y", "zone_id",
                             ((F.col("lon") * 2621.44) % 4096).cast("int").alias("px"),
                             ((F.col("lat") * 2621.44) % 4096).cast("int").alias("py"))
        blobs = mvt.mvt_tiles_df(feats, layer_name="images", property_cols=["zone_id"])
        n_tiles = len(mvt.write_tile_pyramid(blobs, tiles_dir, zoom=6).collect())
        tiled.unpersist()

        docs = spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.arange(n, dtype=np.int64), "text": _documents(n, seed)}))
        mh = dedup.minhash_lsh_dup_pairs(docs, threshold=0.8, verify="exact").count()
        dedup.release_cached()
        pairs = setjoin.exact_jaccard_self_join(docs, threshold=0.8).select(
            "id_a", "id_b").toPandas()
        edges = spark.createDataFrame(pairs.astype(np.int64), "id_a long, id_b long")
        reps = components.dedup_representatives(docs, edges).count()
        dedup.release_cached()
        return {"tile_rows": n_tile_rows, "tiles": n_tiles, "minhash_pairs": mh,
                "setjoin_pairs": len(pairs), "representatives": reps}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def oracle_chain(spark, data_dir: str) -> dict[str, int]:
    """Every ``__spark_entry__`` query on the tables in ``data_dir``; returns row counts."""
    import __spark_entry__ as E

    rows = {name: len(fn(spark, data_dir).toPandas()) for name, fn in E.queries().items()}
    dedup.release_cached()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--iterations", type=int, default=4)
    ap.add_argument("--oracles", metavar="DATA_DIR",
                    help="run the __spark_entry__ queries on these tables instead")
    args = ap.parse_args()
    # workers import the engine from this checkout whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    cpus = 8 if args.oracles else 4
    spark = get_spark(app_name="codegen-probe", master=f"local[{cpus}]", shuffle_partitions=cpus)
    print("codegen cache entries:", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    print(f"{'iter':>4} {'compiles':>8} {'mean ms':>8} {'classes':>8} {'JIT ms':>8}")
    work = tempfile.mkdtemp(prefix="codegen-probe-")
    try:
        before = codegen_counters(spark)
        for i in range(1, args.iterations + 1):
            if args.oracles:
                oracle_chain(spark, args.oracles)
            else:
                image_text_chain(spark, work)
            after = codegen_counters(spark)
            d = {k: after[k] - before[k] for k in after}
            mean = d["compile_ms"] / d["compiles"] if d["compiles"] else math.nan
            print(f"{i:>4} {d['compiles']:>8} {mean:>8.1f} {d['classes']:>8} {d['jit_ms']:>8}",
                  flush=True)
            before = after
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
