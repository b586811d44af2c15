"""Cross-check the pure-numpy baseline JPEG decoder against the JVM's
javax.imageio on the SAME bytes (the PNG/TIFF codec verification strategy).

Byte transfer is bulk in both directions: pixels enter the JVM as a PNG we
encode (exact), ImageIO transcodes to JPEG; the JVM's own JPEG decode comes
back as a PNG (exact) that our PNG decoder reads.  No per-pixel py4j calls.
"""

import numpy as np
import pytest

from incubator_sedona_spark.sources import images as IM
from incubator_sedona_spark.sources.jpeg import decode_jpeg


def _smooth(h, w, seed=0):
    """Smooth structured pixels: gradients + low-frequency waves (JPEG-friendly,
    so decoder-vs-decoder drift is visible above encoder loss)."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 80 * np.sin(xx / 9.0 + seed) * np.cos(yy / 7.0)
    g = 40 + (xx / max(w - 1, 1)) * 170
    b = 220 - (yy / max(h - 1, 1)) * 180
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _jvm_jpeg_roundtrip(spark, pix, quality=None, gray=False):
    """(jpeg_bytes, jvm_decoded_pixels) for the given RGB array via ImageIO."""
    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytearray(IM.encode_png(pix)))
    bi = jvm.javax.imageio.ImageIO.read(bais)
    if gray:
        g = jvm.java.awt.image.BufferedImage(
            bi.getWidth(), bi.getHeight(), 10
        )  # TYPE_BYTE_GRAY
        g.getGraphics().drawImage(bi, 0, 0, None)
        bi = g
    baos = jvm.java.io.ByteArrayOutputStream()
    if quality is None:
        assert jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
    else:
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        param = writer.getDefaultWriteParam()
        param.setCompressionMode(2)  # MODE_EXPLICIT
        param.setCompressionQuality(float(quality))
        mos = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(mos)
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        mos.flush()
    jpeg = bytes(baos.toByteArray())

    # the JVM's own decode of those bytes, returned exactly via PNG
    bais2 = jvm.java.io.ByteArrayInputStream(bytearray(jpeg))
    dec = jvm.javax.imageio.ImageIO.read(bais2)
    rgb = jvm.java.awt.image.BufferedImage(dec.getWidth(), dec.getHeight(), 1)
    rgb.getGraphics().drawImage(dec, 0, 0, None)
    baos2 = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(rgb, "png", baos2)
    jvm_pix = IM.decode_png(bytes(baos2.toByteArray()))
    return jpeg, jvm_pix


def test_jpeg_rgb_cross_check(spark):
    pix = _smooth(48, 64)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix)
    ours = decode_jpeg(jpeg)
    assert ours.shape == (48, 64, 3)
    # decoder-vs-decoder on identical bytes: way above the 40 dB bar
    assert IM.psnr(ours, jvm_pix) >= 40.0
    # and the pipeline-level contract vs the pre-encode pixels
    assert IM.psnr(ours, pix) >= 30.0


def test_jpeg_odd_dims_high_quality(spark):
    pix = _smooth(29, 35, seed=3)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix, quality=0.95)
    ours = decode_jpeg(jpeg)
    assert ours.shape == (29, 35, 3)
    assert IM.psnr(ours, jvm_pix) >= 40.0
    assert IM.psnr(ours, pix) >= 35.0


def test_jpeg_low_quality_still_matches_jvm(spark):
    """Coarse quantization stresses the Huffman/EOB paths; the two decoders
    must still agree on the same stream even though both diverge from the
    original."""
    pix = _smooth(40, 40, seed=9)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix, quality=0.3)
    ours = decode_jpeg(jpeg)
    assert IM.psnr(ours, jvm_pix) >= 40.0


def test_jpeg_grayscale(spark):
    pix = _smooth(32, 48, seed=5)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix, gray=True)
    ours = decode_jpeg(jpeg)
    assert ours.shape == (32, 48, 3)
    # single-component stream replicated to RGB on both sides
    assert IM.psnr(ours, jvm_pix) >= 40.0


def test_jpeg_dispatched_from_decode_image(spark):
    pix = _smooth(24, 24, seed=1)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix)
    ours = IM.decode_image(jpeg)
    assert IM.psnr(ours, jvm_pix) >= 40.0


def _jvm_progressive_roundtrip(spark, pix, quality=None, gray=False):
    """(progressive_jpeg_bytes, jvm_decoded_pixels) via ImageIO with
    progressive mode MODE_DEFAULT (spectral selection + successive
    approximation, DC+AC refinement scans)."""
    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytearray(IM.encode_png(pix)))
    bi = jvm.javax.imageio.ImageIO.read(bais)
    if gray:
        g = jvm.java.awt.image.BufferedImage(bi.getWidth(), bi.getHeight(), 10)
        g.getGraphics().drawImage(bi, 0, 0, None)
        bi = g
    baos = jvm.java.io.ByteArrayOutputStream()
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(1)  # MODE_DEFAULT
    if quality is not None:
        param.setCompressionMode(2)
        param.setCompressionQuality(float(quality))
    mos = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(mos)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    mos.flush()
    jpeg = bytes(baos.toByteArray())
    bais2 = jvm.java.io.ByteArrayInputStream(bytearray(jpeg))
    dec = jvm.javax.imageio.ImageIO.read(bais2)
    rgb = jvm.java.awt.image.BufferedImage(dec.getWidth(), dec.getHeight(), 1)
    rgb.getGraphics().drawImage(dec, 0, 0, None)
    baos2 = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(rgb, "png", baos2)
    return jpeg, IM.decode_png(bytes(baos2.toByteArray()))


def _has_sof2(jpeg: bytes) -> bool:
    i = 2
    while i < len(jpeg) - 1:
        if jpeg[i] == 0xFF and jpeg[i + 1] == 0xC2:
            return True
        i += 1
    return False


def test_jpeg_progressive_rgb_cross_check(spark):
    pix = _smooth(48, 64)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix)
    assert _has_sof2(jpeg)  # the writer really produced a progressive stream
    ours = decode_jpeg(jpeg)
    assert ours.shape == (48, 64, 3)
    assert IM.psnr(ours, jvm_pix) >= 40.0
    assert IM.psnr(ours, pix) >= 30.0


def test_jpeg_progressive_odd_dims_high_quality(spark):
    pix = _smooth(29, 35, seed=3)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix, quality=0.95)
    ours = decode_jpeg(jpeg)
    assert ours.shape == (29, 35, 3)
    assert IM.psnr(ours, jvm_pix) >= 40.0


def test_jpeg_progressive_low_quality(spark):
    # coarse quantization exercises EOB runs and sparse refinement scans
    pix = _smooth(40, 40, seed=9)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix, quality=0.3)
    assert IM.psnr(decode_jpeg(jpeg), jvm_pix) >= 40.0


def test_jpeg_progressive_grayscale(spark):
    pix = _smooth(32, 48, seed=5)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix, gray=True)
    ours = decode_jpeg(jpeg)
    assert ours.shape == (32, 48, 3)
    assert IM.psnr(ours, jvm_pix) >= 40.0


def test_jpeg_progressive_tiny(spark):
    # single-MCU-column image: exercises band bookkeeping at the edge
    pix = _smooth(9, 11, seed=7)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix)
    assert IM.psnr(decode_jpeg(jpeg), jvm_pix) >= 40.0


def test_jpeg_progressive_dispatched_from_decode_image(spark):
    pix = _smooth(24, 24, seed=2)
    jpeg, jvm_pix = _jvm_progressive_roundtrip(spark, pix)
    assert IM.psnr(IM.decode_image(jpeg), jvm_pix) >= 40.0


def test_jpeg_lossless_sof3_still_raises():
    # non-DCT SOF markers must still gate loudly
    buf = bytes([0xFF, 0xD8, 0xFF, 0xC3, 0x00, 0x0B, 8, 0, 16, 0, 16, 1, 1, 0x11, 0])
    with pytest.raises(NotImplementedError, match="lossless|arithmetic"):
        decode_jpeg(buf)


def test_jpeg_garbage_raises():
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")


def test_upsample_factor_shapes():
    """Odd and mixed chroma sampling factors produce the right plane size
    (3:1 used to lose a 2x triangular pass and come out at 2w/3)."""
    from incubator_sedona_spark.sources.jpeg import _upsample

    base = np.arange(12.0).reshape(3, 4)
    for hs, vs in [(1, 1), (2, 1), (1, 2), (2, 2), (3, 1), (1, 3), (3, 3), (4, 2), (6, 1)]:
        w, h = 4 * hs, 3 * vs
        out = _upsample(base, hs, vs, w, h)
        assert out.shape == (h, w), (hs, vs, out.shape)


def test_fill_bytes_before_markers(spark):
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    inject them after SOI and before every marker of a real stream."""
    pix = _smooth(24, 32, seed=2)
    jpeg, jvm_pix = _jvm_jpeg_roundtrip(spark, pix)
    # double every marker's 0xFF prefix (outside entropy data is enough:
    # inject right after SOI and before the first DQT-or-later marker)
    padded = jpeg[:2] + b"\xff\xff" + jpeg[2:]
    ours = decode_jpeg(padded)
    assert IM.psnr(ours, jvm_pix) >= 40.0
