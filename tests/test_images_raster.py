"""Image codec invariants (PSNR>=40dB lossy / exact lossless, caption equality)
+ raster band algebra vs numpy expectations
(mirrors /root/reference/sql/common/src/test/scala/org/apache/sedona/sql/rasteralgebraTest.scala)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.operators import raster as R
from incubator_sedona_spark.sources import datagen as DG
from incubator_sedona_spark.sources.images import (
    decode_image,
    decode_images_df,
    derived_lonlat_cols,
    encode_image,
    phash64,
    phash_for_lonlat,
    psnr,
    with_derived_points,
)


def test_png_roundtrip_exact():
    pix = DG.gen_pixels(0, 32, 32)
    assert np.array_equal(decode_image(encode_image(pix, "png")), pix)


def test_jpeg_roundtrip_psnr():
    pix = DG.gen_pixels(1, 64, 48)
    dec = decode_image(encode_image(pix, "jpeg"))
    assert psnr(pix, dec) >= 40.0
    assert np.abs(dec.astype(int) - pix.astype(int)).max() <= 3


def test_phash_deterministic_and_stable_under_jpeg():
    pix = DG.gen_pixels(2, 128, 96)
    h1 = phash64(pix)
    h2 = phash64(decode_image(encode_image(pix, "jpeg")))
    # hamming distance small under the lossy codec
    assert bin((h1 ^ h2) & (2**64 - 1)).count("1") <= 4


def test_lonlat_bijection_roundtrip():
    for lon, lat in [(2.5, 2.5), (99.9, 0.1), (50.0, 50.0)]:
        ph = phash_for_lonlat(lon, lat)
        lo = ph & 0xFFFFFFFF
        hi = (ph >> 32) & 0xFFFFFFFF
        assert abs(lo / 2**32 * 100 - lon) < 1e-6
        assert abs(hi / 2**32 * 100 - lat) < 1e-6


def test_images_table_invariants(spark):
    df = DG.images_df(spark, 24)
    rows = df.collect()
    assert len(rows) == 24
    for r in rows:
        i = int(r.image_id.split("_")[1])
        pix = DG.gen_pixels(i, r.w, r.h)
        dec = decode_image(bytes(r.bytes))
        if r.fmt == "png":
            assert np.array_equal(dec, pix)
        else:
            assert psnr(pix, dec) >= 40.0
        assert r.caption == DG.caption_for(i)


def test_decode_images_df_plumbing(spark):
    df = DG.images_df(spark, 6)
    out = decode_images_df(df).select("image_id", "dec_w", "dec_h", F.size("pixels").alias("n")).collect()
    for r in out:
        assert r.n == r.dec_w * r.dec_h * 3


def test_derived_points_native_matches_python(spark):
    df = DG.images_df(spark, 12)
    got = with_derived_points(df).select("phash", "lon", "lat").collect()
    for r in got:
        ph = r.phash & (2**64 - 1)
        assert r.lon == pytest.approx((ph & 0xFFFFFFFF) / 2**32 * 100)
        assert r.lat == pytest.approx(((ph >> 32) & 0xFFFFFFFF) / 2**32 * 100)
        assert 0 <= r.lon < 100 and 0 <= r.lat < 100


def test_planted_images_spatial_join(spark):
    # plant image points at zone centers (x+2.5, y+2.5) -> flagship join
    targets = [(x + 2.5, y + 2.5) for x in range(0, 100, 10) for y in range(0, 100, 10)]
    imgs = DG.images_df(spark, 100, planted_lonlat=targets)
    pts = with_derived_points(imgs)
    from incubator_sedona_spark.functions.st import st_point
    from incubator_sedona_spark.operators.joins import spatial_join

    pts = pts.withColumn("wkb", st_point(F.col("lon"), F.col("lat")))
    zones = DG.zones_df(spark)
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    got = spatial_join(zones, pts.select("image_id", "wkb"), "contains", grid=grid)
    assert got.count() == 200  # 100 planted points x 2 duplicate windows


@pytest.mark.parametrize("make", [DG.zones_df, DG.rasters_df])
def test_datagen_fixtures_are_arrow_built(spark, make):
    """The zone and raster fixtures are local relations (Arrow-built), so
    they carry optimizer statistics and run no RDD Python runner."""
    df = make(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 2**63 - 1


# -- raster band algebra --------------------------------------------------------

def test_band_algebra_native(spark):
    a = [200.0, 400.0, 600.0]
    b = [200.0, 500.0, 800.0]
    df = spark.createDataFrame([(a, b)], "band1 array<double>, band2 array<double>")
    row = df.select(
        R.rs_add(F.col("band1"), F.col("band2")).alias("add"),
        R.rs_subtract(F.col("band1"), F.col("band2")).alias("sub"),
        R.rs_normalized_difference(F.col("band1"), F.col("band2")).alias("nd"),
        R.rs_mean(F.col("band1")).alias("mean"),
        R.rs_count(F.col("band1"), 200.0).alias("cnt"),
        R.rs_greater_than(F.col("band1"), 300.0).alias("gt"),
        R.rs_multiply_factor(F.col("band1"), 2.0).alias("mf"),
    ).collect()[0]
    assert row.add == [400.0, 900.0, 1400.0]
    assert row.sub == [0.0, 100.0, 200.0]
    assert row.nd == [0.0, 0.11, 0.14]  # (b-a)/(b+a) rounded 2dp
    assert row.mean == pytest.approx(400.0)
    assert row.cnt == 1
    assert row.gt == [0.0, 1.0, 1.0]
    assert row.mf == [400.0, 800.0, 1200.0]


def test_rs_value_lookup(spark):
    data = [float(i) for i in range(16)]  # 4x4, row-major, row 0 = north
    df = spark.createDataFrame(
        [(data, 4, 4, 0.0, 0.0, 4.0, 4.0)],
        "data array<double>, width int, height int, xmin double, ymin double, xmax double, ymax double",
    )
    v = df.select(
        R.rs_value(
            F.col("data"), F.col("width"), F.col("xmin"), F.col("ymin"),
            F.col("xmax"), F.col("ymax"), F.col("height"),
            F.lit(0.5), F.lit(3.5),
        ).alias("v")
    ).collect()[0].v
    assert v == 0.0  # top-left pixel


def test_raster_vector_join(spark):
    rasters = DG.rasters_df(spark)
    targets = [(x + 2.5, y + 2.5) for x in range(0, 100, 10) for y in range(0, 100, 10)]
    imgs = DG.images_df(spark, 100, planted_lonlat=targets)
    from incubator_sedona_spark.functions.st import st_point
    from incubator_sedona_spark.sources.images import with_derived_points

    pts = with_derived_points(imgs).withColumn("wkb", st_point(F.col("lon"), F.col("lat")))
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    got = R.raster_vector_join(rasters, pts.select("image_id", "wkb"), "contains", grid=grid)
    # each planted point is inside exactly one 10x10 tile
    assert got.count() == 100
    per_tile = got.groupBy("tile_id").count().collect()
    assert all(r["count"] == 1 for r in per_tile)


# -- round 5 (late): planar TIFF (PlanarConfiguration=2) -------------------------


def _build_tiff(pixels, planar=1, rows_per_strip=None, byteorder="<"):
    """Minimal uncompressed TIFF builder (test-local, spec section 8):
    chunky or plane-major strips."""
    import struct

    h, w, spp = pixels.shape
    rps = rows_per_strip or h
    strips = []
    if planar == 1:
        for y0 in range(0, h, rps):
            strips.append(np.ascontiguousarray(pixels[y0 : y0 + rps]).tobytes())
    else:
        for p in range(spp):
            for y0 in range(0, h, rps):
                strips.append(np.ascontiguousarray(pixels[y0 : y0 + rps, :, p]).tobytes())
    entries = [
        (256, 3, 1, [w]), (257, 3, 1, [h]), (258, 3, spp, [8] * spp),
        (259, 3, 1, [1]), (262, 3, 1, [1]),
        (273, 4, len(strips), None),  # offsets patched
        (277, 3, 1, [spp]), (278, 3, 1, [rps]),
        (279, 4, len(strips), [len(s) for s in strips]),
        (284, 3, 1, [planar]),
    ]
    bo = byteorder
    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    ifd_size = 2 + len(entries) * 12 + 4
    # out-of-line value area after IFD
    extra = bytearray()
    extra_base = 8 + ifd_size
    packed_entries = []
    typ_fmt = {3: ("H", 2), 4: ("I", 4)}
    strip_area = None
    for tag, typ, count, vals in entries:
        fmt, sz = typ_fmt[typ]
        if tag == 273:
            strip_area = extra_base + 1000  # patched after layout known
            vals = [0] * count
        total = sz * count
        if total <= 4:
            val_bytes = struct.pack(bo + fmt * count, *vals).ljust(4, b"\0")
            packed_entries.append((tag, typ, count, val_bytes))
        else:
            off = extra_base + len(extra)
            extra += struct.pack(bo + fmt * count, *vals)
            packed_entries.append((tag, typ, count, struct.pack(bo + "I", off)))
    data_base = extra_base + len(extra)
    offs, pos = [], data_base
    for s in strips:
        offs.append(pos)
        pos += len(s)
    # re-pack the offsets entry with real values
    final = []
    for tag, typ, count, val_bytes in packed_entries:
        if tag == 273:
            if count * 4 <= 4:
                val_bytes = struct.pack(bo + "I" * count, *offs).ljust(4, b"\0")
            else:
                # place offsets array at a known slot appended to extra
                off = data_base + sum(len(s) for s in strips)
                val_bytes = struct.pack(bo + "I", off)
        final.append((tag, typ, count, val_bytes))
    out = bytearray(header)
    out += struct.pack(bo + "H", len(final))
    for tag, typ, count, val_bytes in final:
        out += struct.pack(bo + "HHI", tag, typ, count) + val_bytes
    out += struct.pack(bo + "I", 0)  # next IFD
    out += extra
    for s in strips:
        out += s
    if len(offs) * 4 > 4:
        out += struct.pack(bo + "I" * len(offs), *offs)
    return bytes(out)


def test_planar_tiff_matches_chunky():
    from incubator_sedona_spark.sources.raster_codecs import decode_geotiff

    rng = np.random.RandomState(4)
    pix = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    chunky = decode_geotiff(_build_tiff(pix, planar=1, rows_per_strip=2))
    planar = decode_geotiff(_build_tiff(pix, planar=2, rows_per_strip=2))
    assert chunky["width"] == planar["width"] == 7
    assert len(planar["bands"]) == 3
    for b1, b2 in zip(chunky["bands"], planar["bands"]):
        assert list(b1) == list(b2)
    # and both equal the source pixels
    for p in range(3):
        assert list(planar["bands"][p]) == list(pix[:, :, p].ravel().astype(float))


def test_planar_tiff_single_strip_per_plane():
    from incubator_sedona_spark.sources.raster_codecs import decode_geotiff

    rng = np.random.RandomState(5)
    pix = rng.randint(0, 256, (4, 4, 2), dtype=np.uint8)
    d = decode_geotiff(_build_tiff(pix, planar=2))
    assert len(d["bands"]) == 2
    for p in range(2):
        assert list(d["bands"][p]) == list(pix[:, :, p].ravel().astype(float))
