"""Image column support: codecs, decode UDFs, phash, derived coordinates.

The input table shape follows BASELINE.json's input_hint:
``(image_id string, bytes binary, w int32, h int32, fmt string, caption string,
phash int64)`` — the Spark-side analog of the reference's GeoTiff image struct
(/root/reference/sql/common/.../io/raster/GeotiffSchema.scala:43-56), with the
pixel payload as an opaque binary column instead of array<double>.

One native decoder per format, so decoded pixels (and every pHash built on
them) do not depend on what the host has installed:

- ``PNG``  : REAL decoder/encoder implemented here from the PNG spec (zlib
  inflate + scanline filters 0-4, bit depth 8, gray/RGB/RGBA) — no external
  dependency; cross-checked in tests against the JVM's javax.imageio.
- ``JPEG`` : REAL baseline (SOF0/1) + progressive (SOF2) decoder
  implemented here from ITU-T T.81 (sources/jpeg.py: Huffman entropy decode,
  spectral-selection/successive-approximation scan accumulation, dequant,
  vectorized float IDCT, fancy chroma upsample, YCbCr->RGB) — no external
  dependency; cross-checked in tests against the JVM's javax.imageio.
  Arithmetic-coded and CMYK streams raise loudly.
- ``BMP`` / ``GIF`` : sources/bmp.py and sources/gif.py.
- ``TIFF`` : sources/raster_codecs.decode_geotiff (raw, Deflate, LZW,
  PackBits); other compressions raise NotImplementedError.
- ``ISSI`` : the deterministic stand-in codec used by the synthetic corpus:
  ``png`` tag = zlib raw RGB (lossless), ``jpeg`` tag = 4-level uniform
  quantization then zlib (error <= 2/channel, PSNR >= 42 dB > the 40 dB bar
  from BASELINE.json).

Derived spatial position (documented bijection from FIXTURES.md F1):
``lon = (phash & 0xFFFFFFFF) / 2^32 * 100``, ``lat = ((phash >> 32) &
0xFFFFFFFF) / 2^32 * 100`` — points in [0, 100)^2; computed as pure Catalyst
bit arithmetic, so deriving 10^12 points is a codegen'd projection.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAGIC = b"ISSI"
_JPEG_Q = 4  # quantization step; max abs error 2 -> PSNR ~ 42-48 dB


# -- scalar codecs (numpy-vectorized per image) ------------------------------

def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array with the deterministic stand-in codec."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    if fmt == "png":
        payload = zlib.compress(pixels.tobytes(), 6)
        tag = 0
    elif fmt == "jpeg":
        quant = (pixels // _JPEG_Q).astype(np.uint8)
        payload = zlib.compress(quant.tobytes(), 6)
        tag = 1
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    return _MAGIC + struct.pack("<BHHB", tag, w, h, c) + payload


def decode_image(buf: bytes) -> np.ndarray:
    """Decode to (h, w, 3) uint8 — dispatches on the file signature."""
    head = bytes(buf[:8])
    if head[:4] == _MAGIC:
        tag, w, h, c = struct.unpack_from("<BHHB", buf, 4)
        raw = np.frombuffer(zlib.decompress(buf[10:]), dtype=np.uint8).reshape(h, w, c)
        if tag == 1:
            # dequantize to bin centers: error in [-2, +1] per channel
            return (raw.astype(np.int32) * _JPEG_Q + _JPEG_Q // 2).clip(0, 255).astype(np.uint8)
        return raw.copy()
    if head == _PNG_SIG:
        return decode_png(buf)
    if head[:2] == b"\xff\xd8":  # JPEG SOI
        # T.81 sequential + progressive DCT; arithmetic/CMYK raise inside
        from incubator_sedona_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(buf)
    if head[:2] == b"BM":
        from incubator_sedona_spark.sources.bmp import decode_bmp

        return decode_bmp(buf)
    if head[:6] in (b"GIF87a", b"GIF89a"):
        # LZW + interlace + frame compositing
        from incubator_sedona_spark.sources.gif import decode_gif

        return decode_gif(buf)
    if head[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF (incl. GeoTiff payloads)
        # classic TIFF, raw/Deflate/LZW/PackBits; other compressions raise
        from incubator_sedona_spark.sources.raster_codecs import decode_geotiff

        d = decode_geotiff(bytes(buf))
        h, w = d["height"], d["width"]
        arr = np.stack(
            [np.asarray(b, dtype=np.float64).reshape(h, w) for b in d["bands"]],
            axis=2,
        )
        if arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        return np.clip(arr[:, :, :3], 0, 255).astype(np.uint8)
    raise NotImplementedError(f"unrecognized image signature {head[:4]!r}")


# -- real PNG codec (spec-complete for 8-bit gray/RGB/RGBA, no interlace) -------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(buf: bytes, keep_alpha: bool = False) -> np.ndarray:
    """Real PNG decode (RFC 2083): zlib inflate + per-scanline unfilter.
    Supports bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA), no
    interlace; returns (h, w, 3) uint8 (alpha dropped, gray replicated) —
    or (h, w, 4) for RGBA input when ``keep_alpha`` is set."""
    if bytes(buf[:8]) != _PNG_SIG:
        raise ValueError("not a PNG")
    off, w = 8, None
    idat = bytearray()
    while off + 8 <= len(buf):
        ln = int.from_bytes(buf[off : off + 4], "big")
        typ = bytes(buf[off + 4 : off + 8])
        data = bytes(buf[off + 8 : off + 8 + ln])
        off += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or ctype not in (0, 2, 6) or interlace != 0:
                raise NotImplementedError(
                    f"PNG variant not supported (depth={depth}, color={ctype}, "
                    f"interlace={interlace}): only 8-bit gray/RGB/RGBA, "
                    "non-interlaced PNG is decoded"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for r in range(h):
        ft = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: cumulative sum per channel along x
            rec = (
                np.cumsum(line.reshape(w, ch).astype(np.uint64), axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = line + prev
        elif ft == 3:  # Average (sequential in x)
            rec = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(rec[i - ch]) if i >= ch else 0
                rec[i] = (int(line[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth (sequential in x)
            rec = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(rec[i - ch]) if i >= ch else 0
                ul = int(prev[i - ch]) if i >= ch else 0
                rec[i] = (int(line[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[r] = rec
        prev = out[r]
    pix = out.reshape(h, w, ch)
    if ch == 1:
        return np.repeat(pix, 3, axis=2)
    if keep_alpha and ch == 4:
        return pix
    return np.ascontiguousarray(pix[:, :, :3])


def encode_png(pixels: np.ndarray) -> bytes:
    """Real PNG encode: 8-bit RGB (color type 2) or RGBA (color type 6),
    filter 0 scanlines (spec-valid, readable by any PNG decoder; tests verify
    against the JVM's javax.imageio)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    if c not in (3, 4):
        raise ValueError("encode_png expects (h, w, 3) RGB or (h, w, 4) RGBA")

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    color_type = 2 if c == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    scan = np.zeros((h, 1 + w * c), dtype=np.uint8)
    scan[:, 1:] = pixels.reshape(h, w * c)
    idat = zlib.compress(scan.tobytes(), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash: luma -> 8x8 block means -> threshold at median.

    Robust to the jpeg stand-in's quantization (per-block means move < 2/255).
    Returns a signed int64 (two's complement) so it stores in a Spark LongType.
    """
    luma = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = luma.shape
    if h % 8 == 0 and w % 8 == 0:
        # fast path: uniform 8x8 blocks via reshape (all generator sizes)
        blocks = luma.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    else:
        ys = np.linspace(0, h, 9).astype(int)
        xs = np.linspace(0, w, 9).astype(int)
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blocks[i, j] = luma[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (blocks > np.median(blocks)).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


# -- Spark-side plumbing ------------------------------------------------------

def decode_images_df(
    df: DataFrame, bytes_col: str = "bytes", auto_orient: bool = False
) -> DataFrame:
    """Decode image bytes to flat pixel arrays via mapInPandas.

    Output schema: input columns + (dec_w int, dec_h int, pixels array<int>)
    with pixels row-major RGB — the engine's analog of the GeoTiff source's
    band-major array<double> ``data`` field (GeotiffSchema.scala:121-200).
    Arrow-batched; the decoded numpy arrays never cross row-by-row.

    ``auto_orient=True`` applies the EXIF Orientation transform (sources/
    exif.py) inside the same batch, so phones' rotated JPEGs come out
    upright.  Default off: the reference's ImageIO decode path does not
    apply EXIF either, and the per-row decoded-pixel invariant vs the
    reference assumes stored orientation.
    """
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    # StructType.add mutates in place — build a fresh schema instead
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("dec_w", IntegerType()),
            StructField("dec_h", IntegerType()),
            StructField("pixels", ArrayType(IntegerType())),
        ]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if auto_orient:
            from .exif import apply_orientation, parse_exif

        for pdf in batches:
            dec = [decode_image(b) for b in pdf[bytes_col]]
            if auto_orient:
                dec = [
                    apply_orientation(d, parse_exif(bytes(b))["orientation"])
                    for d, b in zip(dec, pdf[bytes_col])
                ]
            pdf = pdf.copy()
            pdf["dec_w"] = [d.shape[1] for d in dec]
            pdf["dec_h"] = [d.shape[0] for d in dec]
            pdf["pixels"] = [d.ravel().astype(np.int32) for d in dec]
            yield pdf

    return df.mapInPandas(_decode, schema=schema)


def image_invariants_df(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Decode + verify per-row invariants, emitting ONLY small columns.

    The scalable form of the decode stage: pixels are decoded, checked
    (dimensions match, phash recomputed from decoded pixels), and immediately
    reduced to scalars inside the Arrow batch — megabyte pixel payloads never
    cross back into the JVM.  Output: image_id-side columns + (dec_ok boolean,
    phash_rec long).
    """
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    keep = [f for f in df.schema.fields if f.name != bytes_col]
    schema = StructType(
        keep + [StructField("dec_ok", BooleanType()), StructField("phash_rec", LongType())]
    )

    def _check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, phs = [], []
            for b, w, h in zip(pdf[bytes_col], pdf["w"], pdf["h"]):
                pix = decode_image(b)
                oks.append(pix.shape == (h, w, 3))
                phs.append(phash64(pix))
            out = pdf.drop(columns=[bytes_col])
            out["dec_ok"] = oks
            out["phash_rec"] = np.array(phs, dtype=np.int64)
            yield out

    return df.mapInPandas(_check, schema=schema)


def resize_pixels(pixels: np.ndarray, out_h: int, out_w: int, method: str = "bilinear") -> np.ndarray:
    """Pure-numpy resize — the multimodal 'resize' stage of the brief.

    Convention: half-pixel sample centers with edge clamping (the
    align_corners=False convention shared by PIL/TF/torch for bilinear);
    'nearest' picks the sample-center pixel, so it never invents colors
    (palette images stay palette).  Fully vectorized (separable gather +
    outer-product weights): no Python per pixel."""
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method {method!r}: bilinear|nearest")
    h, w, c = pixels.shape
    if out_h <= 0 or out_w <= 0:
        raise ValueError("output size must be positive")
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * w / out_w - 0.5
    if method == "nearest":
        yi = np.clip(np.round(ys).astype(np.int64), 0, h - 1)
        xi = np.clip(np.round(xs).astype(np.int64), 0, w - 1)
        return pixels[yi][:, xi]
    ys = np.clip(ys, 0.0, h - 1.0)
    xs = np.clip(xs, 0.0, w - 1.0)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (ys - y0)[:, None, None]
    fx = (xs - x0)[None, :, None]
    p = pixels.astype(np.float64)
    top = p[y0][:, x0] * (1 - fx) + p[y0][:, x1] * fx
    bot = p[y1][:, x0] * (1 - fx) + p[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def center_crop_pixels(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Center crop; loud if the crop exceeds the image (no implicit pad)."""
    h, w, _ = pixels.shape
    if out_h > h or out_w > w:
        raise ValueError(f"crop {out_w}x{out_h} exceeds image {w}x{h}")
    y = (h - out_h) // 2
    x = (w - out_w) // 2
    return np.ascontiguousarray(pixels[y : y + out_h, x : x + out_w])


def resize_images_df(
    df: DataFrame,
    out_w: int,
    out_h: int,
    method: str = "bilinear",
    crop: tuple[int, int] | None = None,
    bytes_col: str = "bytes",
    out_fmt: str = "png",
    jpeg_quality: int = 85,
) -> DataFrame:
    """Decode -> (optional center crop) -> resize -> re-encode, in ONE
    mapInPandas pass (pixels never re-cross Arrow between stages — the same
    fusion discipline as image_features_df).  ``out_fmt`` picks the sink
    codec: 'png' (lossless) or 'jpeg' (real T.81 baseline encoder,
    sources/jpeg_encode.py — the web-thumbnail shape).  Output replaces
    ``bytes`` and updates w/h/fmt; all other columns pass through."""
    if out_fmt not in ("png", "jpeg"):
        raise ValueError(f"out_fmt must be 'png' or 'jpeg', got {out_fmt!r}")
    fields = [f"{n} {t}" for n, t in
              [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
              if n not in (bytes_col, "w", "h", "fmt")]
    schema = ", ".join(fields + [f"{bytes_col} binary", "w int", "h int", "fmt string"])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if out_fmt == "jpeg":
            from incubator_sedona_spark.sources.jpeg_encode import encode_jpeg

            enc = lambda p: encode_jpeg(p, quality=jpeg_quality)  # noqa: E731
        else:
            enc = encode_png
        for pdf in batches:
            outs = []
            for buf in pdf[bytes_col]:
                pix = decode_image(bytes(buf))
                if crop is not None:
                    pix = center_crop_pixels(pix, crop[1], crop[0])
                outs.append(enc(resize_pixels(pix, out_h, out_w, method)))
            out = pdf.drop(columns=[c for c in (bytes_col, "w", "h", "fmt")
                                    if c in pdf.columns])
            out[bytes_col] = outs
            out["w"] = np.int32(out_w)
            out["h"] = np.int32(out_h)
            out["fmt"] = out_fmt
            yield out

    return df.mapInPandas(_run, schema=schema)


def extract_features(pixels: np.ndarray) -> tuple[float, float, list[float]]:
    """Per-image features: mean luma, Sobel-gradient-magnitude mean, 16-bin
    luma histogram (normalized).  The multimodal 'feature-extract' stage —
    numpy-vectorized per image, stays inside the Arrow batch."""
    fpix = pixels.astype(np.float64)
    luma = fpix @ np.array([0.299, 0.587, 0.114])
    grad = 0.0
    hist = np.zeros(16)
    for c in range(3):  # per-channel gradients + histograms
        ch = fpix[:, :, c]
        if ch.shape[1] > 1:
            grad += np.abs(np.diff(ch, axis=1)).mean()
        if ch.shape[0] > 1:
            grad += np.abs(np.diff(ch, axis=0)).mean()
        h, _ = np.histogram(ch, bins=16, range=(0, 256))
        hist += h
    hist = (hist / max(3 * luma.size, 1)).tolist()
    return float(luma.mean()), float(grad / 3.0), hist


def image_features_df(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Decode + verify + feature-extract in ONE pass over the bytes column.

    Emits small columns only: dec_ok, phash_rec, mean_luma, grad_mag,
    luma_hist (array<double>, 16 bins).  One mapInPandas stage — the full
    multimodal preprocessing step of the north-star pipeline.
    """
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    keep = [f for f in df.schema.fields if f.name != bytes_col]
    schema = StructType(
        keep
        + [
            StructField("dec_ok", BooleanType()),
            StructField("phash_rec", LongType()),
            StructField("mean_luma", DoubleType()),
            StructField("grad_mag", DoubleType()),
            StructField("luma_hist", ArrayType(DoubleType())),
        ]
    )

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, phs, mls, gms, hists = [], [], [], [], []
            for b, w, h in zip(pdf[bytes_col], pdf["w"], pdf["h"]):
                pix = decode_image(b)
                oks.append(pix.shape == (h, w, 3))
                phs.append(phash64(pix))
                ml, gm, hist = extract_features(pix)
                mls.append(ml)
                gms.append(gm)
                hists.append(hist)
            out = pdf.drop(columns=[bytes_col])
            out["dec_ok"] = oks
            out["phash_rec"] = np.array(phs, dtype=np.int64)
            out["mean_luma"] = mls
            out["grad_mag"] = gms
            out["luma_hist"] = hists
            yield out

    return df.mapInPandas(_feat, schema=schema)


def derived_lonlat_cols(phash_col: Column) -> tuple[Column, Column]:
    """The documented phash -> (lon, lat) bijection, pure Catalyst bit math."""
    lo = phash_col.bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
    hi = F.shiftrightunsigned(phash_col, 32).bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
    lon = lo.cast("double") / F.lit(float(2**32)) * 100.0
    lat = hi.cast("double") / F.lit(float(2**32)) * 100.0
    return lon, lat


def phash_for_lonlat(lon: float, lat: float) -> int:
    """Inverse of the bijection — used by the generator to plant fixture points."""
    lo = int(lon / 100.0 * 2**32) & 0xFFFFFFFF
    hi = int(lat / 100.0 * 2**32) & 0xFFFFFFFF
    val = (hi << 32) | lo
    return val - (1 << 64) if val >= (1 << 63) else val


def with_derived_points(df: DataFrame, phash_col: str = "phash") -> DataFrame:
    lon, lat = derived_lonlat_cols(F.col(phash_col))
    return df.withColumn("lon", lon).withColumn("lat", lat)
