"""Raster STRUCT model (RasterUDT analog) + IO codec tests.

Goldens mirror the reference's suites:
- sql/common/src/test/scala/org/apache/sedona/sql/rasteralgebraTest.scala
  (RS_Mode:77-86, RS_LogicalDifference:177-183, RS_LogicalOver:185-191)
- common/src/test/java/.../raster/RasterConstructorsTest.java:58-90
  (makeEmptyRaster envelope corners, positive-scaleY convention)
The GeoTIFF codec is independently cross-checked against the JVM's
javax.imageio TIFF plugin (always present under Java 17 — non-circular).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.operators import raster as R
from incubator_sedona_spark.sources import raster_codecs as RC


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def _mk(df, **kw):
    return df.select(R.rs_make_empty_raster(**kw).alias("r"))


def test_make_empty_raster_and_metadata(one):
    # RasterConstructorsTest.java:58-73 — 1x2, pixel size 2, ul (0,0)
    got = (
        _mk(one, num_bands=1, width=1, height=2, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=2.0)
        .select(R.rs_metadata(F.col("r")).alias("m"))
        .first()
        .m
    )
    # [ulx, uly, w, h, scaleX, scaleY, skewX, skewY, srid, numBands]
    assert got == [0.0, 0.0, 1.0, 2.0, 2.0, -2.0, 0.0, 0.0, 0.0, 1.0]


def test_make_empty_raster_envelope(one):
    # envelope == POLYGON((0 -4, 0 0, 2 0, 2 -4, 0 -4)) per the reference test
    r = _mk(one, num_bands=1, width=1, height=2, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=2.0)
    env = W.loads(r.select(R.rs_envelope_struct(F.col("r")).alias("e")).first().e)
    xs = env.parts[0][:, 0]
    ys = env.parts[0][:, 1]
    assert xs.min() == 0.0 and xs.max() == 2.0
    assert ys.min() == -4.0 and ys.max() == 0.0
    # full form: positive scale_y magnitude => minY = uly - h*scaleY
    r2 = _mk(one, num_bands=1, width=1, height=2, upper_left_x=0.0, upper_left_y=0.0,
             scale_x=2.0, scale_y=3.0)
    env2 = W.loads(r2.select(R.rs_envelope_struct(F.col("r")).alias("e")).first().e)
    assert env2.parts[0][:, 1].min() == -6.0


def test_add_band_replace_and_append(one):
    r = _mk(one, num_bands=1, width=2, height=1, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=1.0)
    arr = F.array(F.lit(7.0), F.lit(8.0))
    out = r.select(
        R.rs_num_bands(R.rs_add_band_from_array(F.col("r"), arr)).alias("appended"),
        R.rs_band_as_array(
            R.rs_add_band_from_array(F.col("r"), arr, 1), 1
        ).alias("replaced"),
        R.rs_band_as_array(
            R.rs_add_band_from_array(F.col("r"), arr, 2), 2
        ).alias("appended_by_index"),
    ).first()
    assert out.appended == 2
    assert out.replaced == [7.0, 8.0]
    assert out.appended_by_index == [7.0, 8.0]


def test_srid_roundtrip(one):
    r = _mk(one, num_bands=1, width=1, height=1, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=1.0)
    out = r.select(
        R.rs_srid(R.rs_set_srid(F.col("r"), 4326)).alias("s")
    ).first()
    assert out.s == 4326


def test_value_struct_lookup_and_oob_null(one):
    # 2x2 grid over [0,2]x[-2,0], pixel 1.0: band = [1,2,3,4] row-major (row 0 top)
    r = _mk(one, num_bands=1, width=2, height=2, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=1.0)
    band = F.array(*[F.lit(v) for v in (1.0, 2.0, 3.0, 4.0)])
    wb = r.select(R.rs_add_band_from_array(F.col("r"), band, 1).alias("r"))
    out = wb.select(
        R.rs_value_struct(F.col("r"), 0.5, -0.5).alias("tl"),
        R.rs_value_struct(F.col("r"), 1.5, -0.5).alias("tr"),
        R.rs_value_struct(F.col("r"), 0.5, -1.5).alias("bl"),
        R.rs_value_struct(F.col("r"), 1.5, -1.5).alias("br"),
        R.rs_value_struct(F.col("r"), 5.0, -0.5).alias("oob"),
        R.rs_values_struct(
            F.col("r"),
            F.array(F.lit(0.5), F.lit(1.5)),
            F.array(F.lit(-0.5), F.lit(-1.5)),
        ).alias("vals"),
    ).first()
    assert (out.tl, out.tr, out.bl, out.br) == (1.0, 2.0, 3.0, 4.0)
    assert out.oob is None
    assert out.vals == [1.0, 4.0]


def test_get_band_and_array(one):
    flat = F.array(*[F.lit(float(v)) for v in range(6)])  # 2 bands of 3
    out = one.select(
        R.rs_get_band(flat, 2, 2).alias("b2"),
        R.rs_array(3, 1.5).alias("arr"),
    ).first()
    assert out.b2 == [3.0, 4.0, 5.0]
    assert out.arr == [1.5, 1.5, 1.5]


def test_mode_reference_goldens(spark):
    # rasteralgebraTest.scala:77-86
    df = spark.createDataFrame(
        [([200.0, 400.0, 600.0, 200.0],), ([200.0, 400.0, 600.0, 700.0],)],
        "band array<double>",
    )
    got = [
        sorted(r.m)
        for r in df.select(F.array_sort(R.rs_mode(F.col("band"))).alias("m")).collect()
    ]
    assert got == [[200.0], [200.0, 400.0, 600.0, 700.0]]


def test_bitwise_and_logical_goldens(spark):
    df = spark.createDataFrame(
        [([10.0, 20.0, 30.0], [40.0, 20.0, 50.0])],
        "b1 array<double>, b2 array<double>",
    )
    out = df.select(
        R.rs_logical_difference(F.col("b1"), F.col("b2")).alias("ld"),
        R.rs_bitwise_and(F.col("b1"), F.col("b2")).alias("band"),
        R.rs_bitwise_or(F.col("b1"), F.col("b2")).alias("bor"),
    ).first()
    assert out.ld == [10.0, 0.0, 30.0]  # rasteralgebraTest.scala:177-183
    assert out.band == [float(10 & 40), float(20 & 20), float(30 & 50)]
    assert out.bor == [float(10 | 40), float(20 | 20), float(30 | 50)]
    df2 = spark.createDataFrame(
        [([0.0, 0.0, 30.0], [40.0, 20.0, 50.0])],
        "b1 array<double>, b2 array<double>",
    )
    got = df2.select(R.rs_logical_over(F.col("b1"), F.col("b2")).alias("lo")).first().lo
    assert got == [40.0, 20.0, 30.0]  # rasteralgebraTest.scala:185-191


def test_raster_model_is_native_plan(one):
    """The whole struct pipeline (make/add band/metadata/value) contains no
    Python evaluation node — pure Catalyst."""
    r = _mk(one, num_bands=1, width=2, height=2, upper_left_x=0.0, upper_left_y=0.0,
            pixel_size=1.0)
    band = F.array(*[F.lit(v) for v in (1.0, 2.0, 3.0, 4.0)])
    q = r.select(
        R.rs_metadata(R.rs_add_band_from_array(F.col("r"), band, 1)).alias("m"),
        R.rs_value_struct(F.col("r"), 0.5, -0.5).alias("v"),
        R.rs_mode(band).alias("mode"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# -- codecs -------------------------------------------------------------------


def _sample_raster() -> dict:
    return {
        "bands": [
            np.arange(12, dtype=np.float64).tolist(),
            (np.arange(12, dtype=np.float64) * 3 + 1).tolist(),
        ],
        "width": 4,
        "height": 3,
        "ulx": 100.0,
        "uly": 50.0,
        "scale_x": 0.5,
        "scale_y": -0.5,
        "skew_x": 0.0,
        "skew_y": 0.0,
        "srid": 4326,
    }


def test_geotiff_python_roundtrip():
    r = _sample_raster()
    for dtype in ("float32", "float64", "uint8", "uint16", "int32"):
        d = RC.decode_geotiff(RC.encode_geotiff(r, dtype=dtype))
        assert d["bands"] == r["bands"], dtype
        assert (d["width"], d["height"], d["srid"]) == (4, 3, 4326)
        assert (d["ulx"], d["uly"], d["scale_x"], d["scale_y"]) == (100.0, 50.0, 0.5, -0.5)
    # projected CRS key
    assert RC.decode_geotiff(RC.encode_geotiff(dict(r, srid=3857)))["srid"] == 3857


def test_geotiff_spark_roundtrip(spark):
    r = _sample_raster()
    df = spark.createDataFrame([(bytearray(RC.encode_geotiff(r)),)], "tif binary")
    dec = df.select(RC.rs_from_geotiff(F.col("tif")).alias("r"))
    out = dec.select(
        R.rs_metadata(F.col("r")).alias("m"),
        R.rs_band_as_array(F.col("r"), 2).alias("b2"),
        RC.rs_as_geotiff(F.col("r")).alias("tif2"),
    ).first()
    assert out.m == [100.0, 50.0, 4.0, 3.0, 0.5, -0.5, 0.0, 0.0, 4326.0, 2.0]
    assert out.b2 == r["bands"][1]
    assert RC.decode_geotiff(bytes(out.tif2))["bands"] == r["bands"]


def test_geotiff_cross_check_jvm_imageio(spark):
    """Independent check: the JVM's javax.imageio TIFF plugin must read our
    uint8 GeoTIFF pixel-exactly, and our parser must read a TIFF the JVM
    writer produced (baseline grayscale)."""
    jvm = spark._jvm
    r = _sample_raster()
    r["bands"] = [r["bands"][0]]  # single gray band, values < 256

    # ours -> JVM
    buf = RC.encode_geotiff(r, dtype="uint8")
    bais = jvm.java.io.ByteArrayInputStream(bytearray(buf))
    img = jvm.javax.imageio.ImageIO.read(bais)
    assert img is not None, "JVM ImageIO could not parse our GeoTIFF"
    assert img.getWidth() == 4 and img.getHeight() == 3
    rast = img.getRaster()
    for row in range(3):
        for col in range(4):
            assert rast.getSample(col, row, 0) == int(r["bands"][0][row * 4 + col])

    # JVM -> ours
    bi = jvm.java.awt.image.BufferedImage(4, 3, 10)  # TYPE_BYTE_GRAY
    wr = bi.getRaster()
    for row in range(3):
        for col in range(4):
            wr.setSample(col, row, 0, int(r["bands"][0][row * 4 + col]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "tiff", baos)
    ours = RC.decode_geotiff(bytes(baos.toByteArray()))
    assert ours["width"] == 4 and ours["height"] == 3
    assert ours["bands"][0] == r["bands"][0]


def test_arc_grid_spark_roundtrip(spark):
    r = _sample_raster()
    r["bands"] = [r["bands"][0]]
    txt = RC.write_arc_grid(r).encode("ascii")
    df = spark.createDataFrame([(bytearray(txt),)], "grid binary")
    dec = df.select(RC.rs_from_arc_info_ascii_grid(F.col("grid")).alias("r"))
    out = dec.select(
        R.rs_metadata(F.col("r")).alias("m"),
        R.rs_band_as_array(F.col("r"), 1).alias("b"),
        RC.rs_as_arc_grid(F.col("r")).alias("txt2"),
    ).first()
    assert out.m[:8] == [100.0, 50.0, 4.0, 3.0, 0.5, -0.5, 0.0, 0.0]
    assert out.b == r["bands"][0]
    rt = RC.parse_arc_grid(bytes(out.txt2).decode("ascii"))
    assert np.allclose(rt["bands"][0], r["bands"][0])


def test_arc_grid_llcenter_and_validation():
    txt = "ncols 2\nnrows 2\nxllcenter 10\nyllcenter 20\ncellsize 2\n1 2 3 4\n"
    g = RC.parse_arc_grid(txt)
    assert g["ulx"] == 9.0 and g["uly"] == 23.0  # corner = center - cell/2
    with pytest.raises(ValueError):
        RC.parse_arc_grid("ncols 2\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n1 2 3\n")


def test_base64_and_html(spark):
    from incubator_sedona_spark.sources.images import decode_png

    h, w = 2, 3
    vals = [float(v * 40) for v in range(h * w)]
    df = spark.createDataFrame([(vals,)], "b array<double>")
    out = df.select(
        RC.rs_base64(
            F.lit(h), F.lit(w), F.col("b"), F.col("b"), F.col("b")
        ).alias("b64")
    ).withColumn("html", RC.rs_html(F.col("b64"))).first()
    import base64 as b64mod

    pix = decode_png(b64mod.b64decode(out.b64))
    assert pix.shape == (h, w, 3)
    assert pix[:, :, 0].ravel().tolist() == [int(v) for v in vals]
    assert out.html.startswith('<img src="data:image/png;base64,')
    assert out.html.endswith('" width="200" />')


def test_base64_alpha_composites_over_white(spark):
    from incubator_sedona_spark.sources.images import decode_png
    import base64 as b64mod

    h, w = 1, 2
    rgbv = [100.0, 100.0]
    alpha = [255.0, 0.0]  # second pixel fully transparent -> white
    df = spark.createDataFrame([(rgbv, alpha)], "b array<double>, a array<double>")
    out = df.select(
        RC.rs_base64(
            F.lit(h), F.lit(w), F.col("b"), F.col("b"), F.col("b"), F.col("a")
        ).alias("b64")
    ).first()
    pix = decode_png(b64mod.b64decode(out.b64))
    assert pix[0, 0, 0] == 100 and pix[0, 1, 0] == 255


def test_geotiff_df_source_roundtrip(spark, tmp_path):
    """binaryFile -> rs_from_geotiff source and the per-row .tif sink."""
    import os

    src = tmp_path / "tifs"
    os.makedirs(src)
    rs = []
    for k in range(3):
        r = _sample_raster()
        r["bands"] = [[v + k for v in r["bands"][0]]]
        r["ulx"] = 10.0 * k
        rs.append(r)
        with open(src / f"r{k}.tif", "wb") as f:
            f.write(RC.encode_geotiff(r))
    df = RC.read_geotiff_table(spark, str(src) + "/*.tif")
    got = {os.path.basename(r.path): r.raster for r in df.collect()}
    assert len(got) == 3
    for k in range(3):
        rast = got[f"r{k}.tif"]
        assert rast.ulx == 10.0 * k and rast.width == 4
        assert list(rast.bands[0]) == rs[k]["bands"][0]

    out = tmp_path / "out"
    n = RC.write_geotiff_table(df, str(out))
    assert n == 3
    back = RC.decode_geotiff(open(out / "r1.tif", "rb").read())
    assert back["bands"][0] == rs[1]["bands"][0]


def test_write_geotiff_table_counts_only_the_files_it_wrote(spark, tmp_path):
    """A reused directory's old .tif files are not counted, and two rows
    naming one file count once."""
    import os

    out = tmp_path / "reused"
    out.mkdir()
    for k in range(3):
        (out / f"old{k}.tif").write_bytes(b"old")
    rasters = spark.range(3).select(
        F.format_string("r%d.tif", F.least(F.col("id"), F.lit(1))).alias("path"),
        R.rs_make_empty_raster(1, 4, 3, 0.0, 0.0, pixel_size=1.0).alias("raster"),
    )
    assert RC.write_geotiff_table(rasters, str(out)) == 2
    assert sorted(os.listdir(out)) == ["old0.tif", "old1.tif", "old2.tif", "r0.tif", "r1.tif"]
    back = RC.decode_geotiff((out / "r0.tif").read_bytes())
    assert (back["width"], back["height"], back["bands"]) == (4, 3, [[0.0] * 12])


def test_geotiff_df_source_drop_invalid(spark, tmp_path):
    import os

    src = tmp_path / "mix"
    os.makedirs(src)
    with open(src / "good.tif", "wb") as f:
        f.write(RC.encode_geotiff(_sample_raster()))
    with open(src / "bad.tif", "wb") as f:
        f.write(b"II*\x00garbage-not-a-real-ifd")
    ok = RC.read_geotiff_table(spark, str(src) + "/*.tif", drop_invalid=True)
    assert ok.count() == 1
    strict = RC.read_geotiff_table(spark, str(src) + "/*.tif")
    with pytest.raises(Exception):
        strict.collect()


def test_geotiff_deflate_roundtrip():
    r = _sample_raster()
    buf = RC.encode_geotiff(r, dtype="float32", compression="deflate")
    d = RC.decode_geotiff(buf)
    assert d["bands"] == r["bands"] and d["srid"] == 4326
    # deflate output is a real TIFF with compression tag 8
    assert len(buf) != len(RC.encode_geotiff(r, dtype="float32"))


def _jvm_tiff(spark, compression: str, vals):
    """Write a grayscale TIFF via javax.imageio with the given compression."""
    jvm = spark._jvm
    h, w = len(vals), len(vals[0])
    bi = jvm.java.awt.image.BufferedImage(w, h, 10)  # TYPE_BYTE_GRAY
    wr = bi.getRaster()
    for y in range(h):
        for x in range(w):
            wr.setSample(x, y, 0, int(vals[y][x]))
    it = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
    writer = it.next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(2)  # MODE_EXPLICIT
    param.setCompressionType(compression)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.flush()
    return bytes(baos.toByteArray())


@pytest.mark.parametrize("compression", ["LZW", "PackBits", "Deflate"])
def test_compressed_tiff_decode_vs_jvm_writer(spark, compression):
    """Independent cross-check: javax.imageio writes LZW/PackBits/Deflate
    TIFFs (possibly with the horizontal-differencing predictor) that the
    native parser must decode pixel-exactly."""
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 255, size=(7, 13)).tolist()
    buf = _jvm_tiff(spark, compression, vals)
    d = RC.decode_geotiff(buf)
    assert d["width"] == 13 and d["height"] == 7
    got = np.asarray(d["bands"][0]).reshape(7, 13)
    assert np.array_equal(got, np.asarray(vals, dtype=float)), compression


@pytest.mark.parametrize("compression", [None, "LZW", "Deflate"])
def test_tiled_tiff_decode_vs_jvm_writer(spark, compression):
    """Tiled layout (TIFF 6.0 §15): javax.imageio writes explicit 16x16
    tiles (image 13x7, so tiles crop at the edges) that must decode
    pixel-exactly, compressed or not."""
    jvm = spark._jvm
    rng = np.random.default_rng(13)
    vals = rng.integers(0, 255, size=(7, 13)).tolist()
    h, w = 7, 13
    bi = jvm.java.awt.image.BufferedImage(w, h, 10)
    wr = bi.getRaster()
    for y in range(h):
        for x in range(w):
            wr.setSample(x, y, 0, int(vals[y][x]))
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    param = writer.getDefaultWriteParam()
    param.setTilingMode(2)  # MODE_EXPLICIT
    param.setTiling(16, 16, 0, 0)
    if compression:
        param.setCompressionMode(2)
        param.setCompressionType(compression)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.flush()
    d = RC.decode_geotiff(bytes(baos.toByteArray()))
    got = np.asarray(d["bands"][0]).reshape(h, w)
    assert np.array_equal(got, np.asarray(vals, dtype=float)), compression
