"""Deterministic synthetic fixture tables (FIXTURES.md F1/F2/F4/F7).

Seeded generators only — no external data.  The images table matches
BASELINE.json's input_hint shape exactly; written as parquet (the Iceberg
table layout fallback documented in SURVEY.md §7.0 — identical schema, same
read code path via spark.read).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.sources.images import encode_image, phash64, phash_for_lonlat

_W_CYCLE = (32, 64, 128)
_H_CYCLE = (32, 48, 96)
_WORDS = ("lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing", "elit")


def gen_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Seeded RGB gradient + coarse random block pattern + noise.

    The coarse 8x8 block pattern (amplitude +-80) dominates the phash blocks,
    so per-image phashes — and therefore the derived (lon, lat) points — are
    well spread instead of collapsing onto a handful of values.
    """
    rng = np.random.default_rng(42 + i)
    gx = np.linspace(0, 255, w, dtype=np.float64)[None, :, None]
    gy = np.linspace(0, 255, h, dtype=np.float64)[:, None, None]
    chan = np.array([1.0, 0.6, 0.3])[None, None, :]
    base = (gx * 0.25 + gy * 0.25) * chan
    blocks = rng.uniform(-80, 80, size=(8, 8))
    pat = np.kron(blocks, np.ones((max(h // 8, 1), max(w // 8, 1))))[:h, :w, None]
    noise = rng.integers(0, 32, size=(h, w, 3))
    return np.clip(base + pat + 96 + noise, 0, 255).astype(np.uint8)


def caption_for(i: int) -> str:
    words = " ".join(_WORDS[(i + k) % len(_WORDS)] for k in range(3))
    return f"caption {i} {words}"


def gen_images_pdf(n: int, planted_lonlat=None) -> pd.DataFrame:
    """The F1 images table as pandas; ``planted_lonlat`` optionally overrides
    the phash of row i with phash_for_lonlat(*planted_lonlat[i]) so the derived
    point lands at a chosen fixture location (FIXTURES.md F2 note)."""
    rows = []
    for i in range(n):
        w, h = _W_CYCLE[i % 3], _H_CYCLE[i % 3]
        fmt = "png" if i % 2 == 0 else "jpeg"
        pix = gen_pixels(i, w, h)
        buf = encode_image(pix, fmt)
        if planted_lonlat is not None and i < len(planted_lonlat):
            ph = phash_for_lonlat(*planted_lonlat[i])
        else:
            ph = phash64(pix)
        rows.append((f"img_{i:08d}", buf, w, h, fmt, caption_for(i), ph))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def images_df(spark: SparkSession, n: int, planted_lonlat=None) -> DataFrame:
    pdf = gen_images_pdf(n, planted_lonlat)
    return spark.createDataFrame(
        pdf, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )


def write_images_table(spark: SparkSession, path: str, n: int, partitions: int = 8) -> str:
    """Generate the images table distributed (one generator task per slice).

    The generation itself runs on executors via mapInPandas over an id range —
    the pattern that scales to arbitrary n (driver never holds the images).
    """
    from pyspark.sql import functions as F

    ids = spark.range(0, n, 1, partitions)

    def _gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            out = gen_images_pdf_for_ids(idx)
            yield out

    schema = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    df = ids.mapInPandas(_gen, schema=schema)
    df.write.mode("overwrite").parquet(path)
    return path


def gen_images_pdf_for_ids(idx: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in idx:
        i = int(i)
        w, h = _W_CYCLE[i % 3], _H_CYCLE[i % 3]
        fmt = "png" if i % 2 == 0 else "jpeg"
        pix = gen_pixels(i, w, h)
        rows.append(
            (f"img_{i:08d}", encode_image(pix, fmt), w, h, fmt, caption_for(i), phash64(pix))
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def zones_df(spark: SparkSession) -> DataFrame:
    """F2 zone polygons: 10x10 grid, duplicated a:/b: 5x5 windows.

    Arrow-built, like every driver-built table in the package: a local
    relation with optimizer statistics, and no RDD Python runner."""
    cells = [(x, y, tag) for x in range(0, 100, 10) for y in range(0, 100, 10) for tag in "ab"]
    return spark.createDataFrame(
        pa.table({
            "zone_id": [f"{tag}:{x}:{y}" for x, y, tag in cells],
            "wkb": pa.array([W.dumps(W.box(x, y, x + 5, y + 5)) for x, y, _ in cells], pa.binary()),
            "xmin": pa.array([x for x, _, _ in cells], pa.float64()),
            "ymin": pa.array([y for _, y, _ in cells], pa.float64()),
            "xmax": pa.array([x + 5 for x, _, _ in cells], pa.float64()),
            "ymax": pa.array([y + 5 for _, y, _ in cells], pa.float64()),
        }),
        "zone_id string, wkb binary, xmin double, ymin double, xmax double, ymax double",
    )


def rasters_df(spark: SparkSession, width: int = 16, height: int = 16) -> DataFrame:
    """F7 raster tiles: 10x10 grid of footprint polygons + seeded band data
    (Arrow-built, as ``zones_df``)."""
    rng = np.random.default_rng(42)
    ij = [(i, j) for i in range(10) for j in range(10)]
    n = len(ij)
    return spark.createDataFrame(
        pa.table({
            "tile_id": [f"t_{i}_{j}" for i, j in ij],
            "footprint_wkb": pa.array(
                [W.dumps(W.box(10 * i, 10 * j, 10 * (i + 1), 10 * (j + 1))) for i, j in ij],
                pa.binary(),
            ),
            "nBands": pa.array([1] * n, pa.int32()),
            "width": pa.array([width] * n, pa.int32()),
            "height": pa.array([height] * n, pa.int32()),
            # one seeded draw per tile, in tile order: the fixture's values
            "data": pa.array(
                [rng.uniform(0, 255, width * height) for _ in ij], pa.list_(pa.float64())
            ),
            "xmin": pa.array([10.0 * i for i, _ in ij], pa.float64()),
            "ymin": pa.array([10.0 * j for _, j in ij], pa.float64()),
            "xmax": pa.array([10.0 * (i + 1) for i, _ in ij], pa.float64()),
            "ymax": pa.array([10.0 * (j + 1) for _, j in ij], pa.float64()),
        }),
        "tile_id string, footprint_wkb binary, nBands int, width int, height int, "
        "data array<double>, xmin double, ymin double, xmax double, ymax double",
    )
