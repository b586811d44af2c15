"""Real PNG codec: spec-correct decode/encode without external deps.

Non-circular verification: the JVM's javax.imageio (always present — Spark
runs on Java 17) encodes/decodes PNGs independently of our implementation;
pixels must match exactly in both directions.  Filters 1-4 are exercised via
hand-filtered scanlines.
"""

import struct
import zlib

import numpy as np
import pytest

from incubator_sedona_spark.sources import images as IM


def _pixels(h=7, w=5, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_png_roundtrip_own_codec():
    pix = _pixels()
    buf = IM.encode_png(pix)
    assert buf[:8] == IM._PNG_SIG
    back = IM.decode_png(buf)
    assert np.array_equal(back, pix)
    # decode_image dispatches on the signature
    assert np.array_equal(IM.decode_image(buf), pix)


def _encode_with_filter(pix: np.ndarray, ftype: int) -> bytes:
    """Spec-valid PNG using one fixed filter type for every scanline —
    exercises the decoder's filter reconstruction paths."""
    h, w, _ = pix.shape
    ch = 3
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        line = pix[r].reshape(-1).astype(np.int32)
        out = np.empty_like(line)
        for i in range(len(line)):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                pred = IM._paeth(int(left), int(up), int(ul))
            out[i] = (line[i] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line

    def chunk(typ, data):
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        IM._PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decode_all_filters(ftype):
    pix = _pixels(6, 4, seed=ftype + 10)
    buf = _encode_with_filter(pix, ftype)
    assert np.array_equal(IM.decode_png(buf), pix)


def test_png_gray_and_rgba():
    gray = _pixels(5, 3, seed=1)[:, :, 0]
    # hand-build a gray PNG (color type 0, filter 0)
    def chunk(typ, data):
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    h, w = gray.shape
    scan = np.zeros((h, 1 + w), dtype=np.uint8)
    scan[:, 1:] = gray
    buf = (
        IM._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan.tobytes()))
        + chunk(b"IEND", b"")
    )
    out = IM.decode_png(buf)
    assert out.shape == (h, w, 3) and np.array_equal(out[:, :, 0], gray)

    rgba = np.dstack([_pixels(5, 3, seed=2), np.full((5, 3), 200, np.uint8)])
    scan4 = np.zeros((5, 1 + 3 * 4), dtype=np.uint8)
    scan4[:, 1:] = rgba.reshape(5, -1)
    buf4 = (
        IM._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 5, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan4.tobytes()))
        + chunk(b"IEND", b"")
    )
    out4 = IM.decode_png(buf4)
    assert np.array_equal(out4, rgba[:, :, :3])


def test_png_cross_check_jvm_imageio(spark):
    """Independent codec check: JVM javax.imageio writes a PNG we must decode
    bit-exactly, and reads a PNG we wrote to the same pixels."""
    jvm = spark._jvm
    pix = _pixels(6, 5, seed=42)
    h, w, _ = pix.shape

    # JVM-encoded -> our decoder
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB = 1
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in pix[y, x])
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "png", baos)
    jvm_png = bytes(baos.toByteArray())
    ours = IM.decode_png(jvm_png)
    assert np.array_equal(ours, pix)

    # our encoder -> JVM decoder
    our_png = IM.encode_png(pix)
    bais = jvm.java.io.ByteArrayInputStream(bytearray(our_png))
    img = jvm.javax.imageio.ImageIO.read(bais)
    assert img.getWidth() == w and img.getHeight() == h
    for y in range(h):
        for x in range(w):
            rgb = img.getRGB(x, y) & 0xFFFFFF
            r, g, b = (int(v) for v in pix[y, x])
            assert rgb == ((r << 16) | (g << 8) | b)


def test_jpeg_dispatch_without_pil():
    """Round 4: real JPEG bytes now dispatch to the native baseline decoder
    (sources/jpeg.py) instead of a blanket NotImplementedError; truncated
    garbage still fails loudly (ValueError), and progressive streams keep
    the NotImplementedError gate (tested in test_jpeg_codec)."""
    with pytest.raises(ValueError):
        IM.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)


def test_issi_standin_still_roundtrips():
    pix = _pixels(16, 16, seed=5)
    assert np.array_equal(IM.decode_image(IM.encode_image(pix, "png")), pix)
    lossy = IM.decode_image(IM.encode_image(pix, "jpeg"))
    assert IM.psnr(pix, lossy) >= 40.0
