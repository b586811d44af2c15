"""Raster IO codecs: ArcInfo ASCII Grid, GeoTIFF, and PNG/base64 rendering.

Reference surface (all public formats):
- RS_FromArcInfoAsciiGrid / RS_AsArcGrid
  (common/.../raster/RasterConstructors.java:41-46, RasterOutputs.java:70-92)
- RS_FromGeoTiff / RS_AsGeoTiff
  (RasterConstructors.java:48-55, RasterOutputs.java:38-68)
- RS_Base64 / RS_HTML (sql/common/.../expressions/raster/IO.scala:160-263)

The ArcGrid codec is the plain ESRI ASCII grid text format — implemented
in full.  The GeoTIFF codec is a REAL classic-TIFF reader/writer written
against the public TIFF 6.0 + GeoTIFF 1.1 specs: little-endian, single
image, uncompressed strips, chunky interleave, uint8/16/32 + int8/16/32 +
float32/64 samples, ModelPixelScale + ModelTiepoint + GeoKeyDirectory
(EPSG code) georeferencing.  Files it writes open in GDAL/QGIS; files it
reads cover what RS_AsGeoTiff-style writers emit.  Round 3: Deflate
encode/decode, plus LZW, PackBits and horizontal-differencing predictor
DECODE — all from the public TIFF 6.0 spec, cross-checked pixel-exact
against javax.imageio's LZW/PackBits/Deflate writers.  Tiled layout decodes
natively too (JVM tiled-writer cross-check).  This is the one TIFF decoder
(``images.decode_image`` routes TIFF here as well); JPEG-in-TIFF and every
other compression raise loudly — NEVER a silent wrong answer.

All functions operate on the raster STRUCT column documented in
operators/raster.py (RASTER_SCHEMA).
"""

from __future__ import annotations

import base64
import struct as _struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from incubator_sedona_spark.operators.raster import RASTER_SCHEMA

# -- ArcInfo ASCII Grid --------------------------------------------------------


def parse_arc_grid(text: str) -> dict:
    """Parse ESRI ASCII grid text into a raster dict (single band).

    Header keys (case-insensitive): ncols nrows xllcorner|xllcenter
    yllcorner|yllcenter cellsize [nodata_value].  Remaining whitespace-
    separated tokens are nrows*ncols values, row 0 = top (north), exactly
    the on-disk order GDAL writes."""
    tokens = text.split()
    hdr: dict[str, float] = {}
    i = 0
    while i + 1 < len(tokens):
        key = tokens[i].lower()
        if key in (
            "ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
            "yllcenter", "cellsize", "nodata_value",
        ):
            hdr[key] = float(tokens[i + 1])
            i += 2
        else:
            break
    ncols, nrows = int(hdr["ncols"]), int(hdr["nrows"])
    cell = hdr["cellsize"]
    vals = np.asarray(tokens[i:], dtype=np.float64)
    if vals.size != ncols * nrows:
        raise ValueError(f"arc grid: expected {ncols * nrows} values, got {vals.size}")
    # llcenter shifts the corner by half a cell (ESRI spec)
    xll = hdr.get("xllcorner", hdr.get("xllcenter", 0.0) - cell / 2.0)
    yll = hdr.get("yllcorner", hdr.get("yllcenter", 0.0) - cell / 2.0)
    return {
        "bands": [vals.tolist()],
        "width": ncols,
        "height": nrows,
        "ulx": xll,
        "uly": yll + nrows * cell,
        "scale_x": cell,
        "scale_y": -cell,
        "skew_x": 0.0,
        "skew_y": 0.0,
        "srid": 0,
    }


def write_arc_grid(r: dict, band: int = 1, nodata: float = -9999.0) -> str:
    """Serialize one band of a raster dict as ESRI ASCII grid text.

    Requires square, north-up, skew-free pixels (the format can express
    nothing else — the reference's ArcGridWriter has the same constraint)."""
    if r["skew_x"] or r["skew_y"] or abs(r["scale_x"] + r["scale_y"]) > 1e-12:
        raise ValueError("arc grid requires square north-up pixels (no skew)")
    w, h, cell = r["width"], r["height"], r["scale_x"]
    vals = np.asarray(r["bands"][band - 1], dtype=np.float64).reshape(h, w)
    yll = r["uly"] + h * r["scale_y"]
    lines = [
        f"ncols {w}",
        f"nrows {h}",
        f"xllcorner {r['ulx']:.10g}",
        f"yllcorner {yll:.10g}",
        f"cellsize {cell:.10g}",
        f"NODATA_value {nodata:.10g}",
    ]
    for row in vals:
        lines.append(" ".join(f"{v:.10g}" for v in row))
    return "\n".join(lines) + "\n"


# -- GeoTIFF (classic TIFF 6.0 + GeoTIFF 1.1 keys) ----------------------------

_TIFF_TYPES = {  # type id -> (struct fmt char, byte size)
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: ("II", 8),  # RATIONAL
    6: ("b", 1),   # SBYTE
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}

# tag ids (TIFF 6.0 / GeoTIFF 1.1)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_STRIP_OFFSETS, _T_SAMPLES_PER_PIXEL, _T_ROWS_PER_STRIP = 273, 277, 278
_T_STRIP_COUNTS, _T_PLANAR = 279, 284
_T_SAMPLE_FORMAT = 339
_T_PREDICTOR = 317
_T_TILE_WIDTH, _T_TILE_LENGTH = 322, 323
_T_TILE_OFFSETS, _T_TILE_COUNTS = 324, 325
_T_MODEL_PIXEL_SCALE, _T_MODEL_TIEPOINT, _T_GEO_KEYS = 33550, 33922, 34735


def _np_dtype(sample_format: int, bits: int):
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format)
    if kind is None or bits % 8:
        raise ValueError(f"unsupported TIFF sample format {sample_format}/{bits}")
    return np.dtype(f"<{kind}{bits // 8}")


def decode_geotiff(buf: bytes) -> dict:
    """Parse a classic TIFF into a raster dict (REAL parser, public spec).

    Supports: II/MM byte order, single IFD, raw/Deflate/LZW/PackBits
    strips AND 16x16+ tile layouts (+ predictor 2), chunky AND planar
    (PlanarConfiguration=2, plane-major strips/tiles) interleave, any
    uint/int/float sample width; ModelPixelScale + ModelTiepoint +
    GeoKeyDirectory (geographic 2048 / projected 3072 key) georeference.
    Other variants raise NotImplementedError loudly."""
    if len(buf) < 8 or buf[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF byte stream")
    bo = "<" if buf[:2] == b"II" else ">"
    magic, ifd_off = _struct.unpack(bo + "HI", buf[2:8])
    if magic != 42:
        raise ValueError("not a classic TIFF (BigTIFF unsupported)")

    n_entries = _struct.unpack_from(bo + "H", buf, ifd_off)[0]
    tags: dict[int, list] = {}
    for k in range(n_entries):
        off = ifd_off + 2 + k * 12
        tag, typ, count = _struct.unpack_from(bo + "HHI", buf, off)
        if typ not in _TIFF_TYPES:
            continue
        fmt, sz = _TIFF_TYPES[typ]
        total = sz * count
        if total <= 4:
            data_off = off + 8
        else:
            data_off = _struct.unpack_from(bo + "I", buf, off + 8)[0]
        if typ == 5:  # RATIONAL: pairs of LONGs
            raw = _struct.unpack_from(bo + "II" * count, buf, data_off)
            vals = [raw[2 * i] / max(raw[2 * i + 1], 1) for i in range(count)]
        elif typ == 2:
            vals = [buf[data_off : data_off + count].split(b"\0")[0].decode("ascii", "replace")]
        else:
            vals = list(_struct.unpack_from(bo + fmt * count, buf, data_off))
        tags[tag] = vals

    compression = int(tags.get(_T_COMPRESSION, [1])[0])
    if compression not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} is not supported; "
            "only raw/Deflate/LZW/PackBits decode"
        )
    if _T_WIDTH not in tags or _T_HEIGHT not in tags:
        raise ValueError("TIFF missing dimensions")
    w, h = int(tags[_T_WIDTH][0]), int(tags[_T_HEIGHT][0])
    spp = int(tags.get(_T_SAMPLES_PER_PIXEL, [1])[0])
    bits = tags.get(_T_BITS, [8] * spp)
    sf = tags.get(_T_SAMPLE_FORMAT, [1] * spp)
    if len(set(bits)) != 1 or len(set(sf)) != 1:
        raise NotImplementedError("mixed per-sample formats unsupported")
    planar = int(tags.get(_T_PLANAR, [1])[0])
    if planar not in (1, 2):
        raise NotImplementedError(f"TIFF PlanarConfiguration {planar} unknown")
    dt = _np_dtype(int(sf[0]), int(bits[0]))
    if bo == ">":
        dt = dt.newbyteorder(">")

    def _inflate(chunk: bytes) -> bytes:
        if compression in (8, 32946):  # Deflate (Adobe / legacy tag)
            import zlib

            return zlib.decompress(chunk)
        if compression == 32773:
            return _packbits_decode(chunk)
        if compression == 5:
            return _lzw_decode(chunk)
        return chunk

    predictor = int(tags.get(_T_PREDICTOR, [1])[0])

    def _undo_predictor(a: np.ndarray) -> np.ndarray:
        if predictor != 2:
            return a
        # horizontal differencing resets per row (and per tile row for tiles)
        acc = np.cumsum(a.astype(np.int64), axis=1)
        if a.dtype.kind == "u":
            acc = acc % (1 << (a.dtype.itemsize * 8))
        return acc.astype(a.dtype)

    if _T_TILE_OFFSETS in tags:  # tiled layout (TIFF 6.0 §15)
        tw = int(tags[_T_TILE_WIDTH][0])
        th = int(tags[_T_TILE_LENGTH][0])
        t_offs = [int(v) for v in tags[_T_TILE_OFFSETS]]
        t_cnts = [int(v) for v in tags[_T_TILE_COUNTS]]
        tiles_x = (w + tw - 1) // tw
        arr = np.zeros((h, w, spp), dtype=dt)
        # planar (PlanarConfiguration=2): tiles come plane-major — all of
        # sample 0's tiles, then sample 1's, ... (TIFF 6.0 §15); each tile
        # then carries ONE sample
        tile_spp = spp if planar == 1 else 1
        tiles_per_plane = len(t_offs) // (1 if planar == 1 else spp)
        for k, (o, c) in enumerate(zip(t_offs, t_cnts)):
            raw = _inflate(buf[o : o + c])
            tile = np.frombuffer(raw, dtype=dt, count=tw * th * tile_spp).reshape(
                th, tw, tile_spp
            )
            tile = _undo_predictor(tile)
            kk = k % tiles_per_plane
            ty, tx = (kk // tiles_x) * th, (kk % tiles_x) * tw
            ch, cw = min(th, h - ty), min(tw, w - tx)
            if planar == 1:
                arr[ty : ty + ch, tx : tx + cw] = tile[:ch, :cw]
            else:
                arr[ty : ty + ch, tx : tx + cw, k // tiles_per_plane] = tile[:ch, :cw, 0]
        return _array_to_raster_dict(arr, tags)

    offsets = [int(v) for v in tags[_T_STRIP_OFFSETS]]
    counts = [int(v) for v in tags[_T_STRIP_COUNTS]]
    if planar == 2 and spp > 1:
        # strips come plane-major (all of sample 0's strips first); each
        # plane is an (h, w) single-sample image, predictor per plane
        if len(offsets) % spp != 0:
            raise ValueError("planar TIFF: strip count not divisible by samples/pixel")
        per = len(offsets) // spp
        planes = []
        for p in range(spp):
            raw = b"".join(
                _inflate(buf[o : o + c])
                for o, c in zip(offsets[p * per : (p + 1) * per], counts[p * per : (p + 1) * per])
            )
            plane = np.frombuffer(raw, dtype=dt, count=w * h).reshape(h, w)
            planes.append(_undo_predictor(plane[:, :, None])[:, :, 0])
        return _array_to_raster_dict(np.stack(planes, axis=2), tags)
    raw = b"".join(_inflate(buf[o : o + c]) for o, c in zip(offsets, counts))
    arr = np.frombuffer(raw, dtype=dt, count=w * h * spp).reshape(h, w, spp)
    arr = _undo_predictor(arr)
    return _array_to_raster_dict(arr, tags)


def _packbits_decode(data: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9): n in [0,127] -> copy n+1 literal bytes;
    n in [-127,-1] -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:
            out += bytes([data[i]]) * (257 - c)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first variable-width codes,
    Clear=256, EOI=257, code width grows at 510/1022/2046 ('early change')."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    bitbuf, bitcnt = 0, 0
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == CLEAR:
                reset()
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # early change: width bumps one code before the table fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _array_to_raster_dict(arr: np.ndarray, tags: dict) -> dict:
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    scale = tags.get(_T_MODEL_PIXEL_SCALE)
    tie = tags.get(_T_MODEL_TIEPOINT)
    sx, sy = (scale[0], -scale[1]) if scale else (1.0, -1.0)
    if tie and len(tie) >= 6:
        # tiepoint maps raster (i,j) -> world (x,y): ul = world - (i,j)*scale
        ulx = tie[3] - tie[0] * sx
        uly = tie[4] - tie[1] * sy
    else:
        ulx, uly = 0.0, 0.0
    srid = 0
    geo = tags.get(_T_GEO_KEYS)
    if geo and len(geo) >= 4:
        n_keys = int(geo[3])
        for i in range(n_keys):
            key_id, loc, cnt, val = geo[4 + 4 * i : 8 + 4 * i]
            if key_id in (2048, 3072) and loc == 0:  # Geographic / ProjectedCSType
                srid = int(val)
    return {
        "bands": [arr[:, :, b].astype(np.float64).ravel().tolist() for b in range(spp)],
        "width": int(w),
        "height": int(h),
        "ulx": float(ulx),
        "uly": float(uly),
        "scale_x": float(sx),
        "scale_y": float(sy),
        "skew_x": 0.0,
        "skew_y": 0.0,
        "srid": srid,
    }


def encode_geotiff(r: dict, dtype: str = "float32", compression: str = "none") -> bytes:
    """Write a raster dict as a REAL little-endian GeoTIFF (uncompressed,
    chunky interleave, one strip, float32 by default) with ModelPixelScale,
    ModelTiepoint and a GeoKeyDirectory carrying the EPSG code.  Output opens
    in GDAL/QGIS; decode_geotiff() round-trips it exactly."""
    if r["skew_x"] or r["skew_y"]:
        raise ValueError("GeoTIFF ModelPixelScale georeference requires skew-free rasters")
    w, h = int(r["width"]), int(r["height"])
    bands = [np.asarray(b, dtype=np.float64).reshape(h, w) for b in r["bands"]]
    spp = len(bands)
    dt = np.dtype("<" + {"float32": "f4", "float64": "f8", "uint8": "u1",
                         "int32": "i4", "uint16": "u2"}[dtype])
    sample_format = {"f": 3, "i": 2, "u": 1}[dt.kind]
    pix = np.stack(bands, axis=2).astype(dt)  # chunky (h, w, spp)
    data = pix.tobytes()
    comp_tag = 1
    if compression == "deflate":
        import zlib as _zlib

        data = _zlib.compress(data, 6)
        comp_tag = 8
    elif compression != "none":
        raise ValueError(f"unsupported TIFF compression {compression!r}")

    srid = int(r.get("srid") or 0)
    # geographic CRS codes are 4xxx; projected codes get key 3072
    geo_key = 2048 if 4000 <= srid < 5000 else 3072
    geo_dir = [1, 1, 0, 2, 1024, 0, 1, (2 if geo_key == 2048 else 1),
               geo_key, 0, 1, srid]
    scale = [float(r["scale_x"]), float(-r["scale_y"]), 0.0]
    tie = [0.0, 0.0, 0.0, float(r["ulx"]), float(r["uly"]), 0.0]

    entries: list[tuple[int, int, int, list]] = [
        (_T_WIDTH, 4, 1, [w]),
        (_T_HEIGHT, 4, 1, [h]),
        (_T_BITS, 3, spp, [dt.itemsize * 8] * spp),
        (_T_COMPRESSION, 3, 1, [comp_tag]),
        (_T_PHOTOMETRIC, 3, 1, [1]),  # BlackIsZero
        (_T_STRIP_OFFSETS, 4, 1, [0]),  # patched below
        (_T_SAMPLES_PER_PIXEL, 3, 1, [spp]),
        (_T_ROWS_PER_STRIP, 4, 1, [h]),
        (_T_STRIP_COUNTS, 4, 1, [len(data)]),
        (_T_PLANAR, 3, 1, [1]),
        (_T_SAMPLE_FORMAT, 3, spp, [sample_format] * spp),
        (_T_MODEL_PIXEL_SCALE, 12, 3, scale),
        (_T_MODEL_TIEPOINT, 12, 6, tie),
    ]
    if srid:
        entries.append((_T_GEO_KEYS, 3, len(geo_dir), geo_dir))
    entries.sort(key=lambda e: e[0])

    # layout: header(8) + IFD + overflow values + pixel data
    ifd_off = 8
    ifd_size = 2 + len(entries) * 12 + 4
    overflow_off = ifd_off + ifd_size
    overflow = bytearray()

    def pack_vals(typ: int, vals: list) -> bytes:
        fmt, _ = _TIFF_TYPES[typ]
        return _struct.pack("<" + fmt * len(vals), *vals)

    entry_bytes = bytearray()
    for tag, typ, count, vals in entries:
        raw = pack_vals(typ, vals)
        if len(raw) <= 4:
            inline = raw + b"\0" * (4 - len(raw))
            entry_bytes += _struct.pack("<HHI", tag, typ, count) + inline
        else:
            entry_bytes += _struct.pack("<HHI", tag, typ, count) + _struct.pack(
                "<I", overflow_off + len(overflow)
            )
            overflow += raw
    data_off = overflow_off + len(overflow)

    # patch StripOffsets now that the data offset is known
    out = bytearray()
    out += b"II" + _struct.pack("<HI", 42, ifd_off)
    out += _struct.pack("<H", len(entries))
    # rebuild entry for StripOffsets with the real value
    eb = bytearray(entry_bytes)
    for idx, (tag, typ, count, vals) in enumerate(entries):
        if tag == _T_STRIP_OFFSETS:
            pos = idx * 12 + 8
            eb[pos : pos + 4] = _struct.pack("<I", data_off)
    out += eb
    out += _struct.pack("<I", 0)  # next-IFD pointer
    out += overflow
    out += data
    return bytes(out)


# -- Spark column functions ----------------------------------------------------


def _raster_to_row(d: dict):
    return (
        d["bands"], d["width"], d["height"], d["ulx"], d["uly"],
        d["scale_x"], d["scale_y"], d["skew_x"], d["skew_y"], d["srid"],
    )


def _frame_to_rasters(frame: pd.DataFrame):
    """A struct column reaches a pandas UDF as a DataFrame of its fields."""
    for _, row in frame.iterrows():
        yield {
            "bands": [list(b) for b in row["bands"]],
            "width": int(row["width"]),
            "height": int(row["height"]),
            "ulx": float(row["ulx"]),
            "uly": float(row["uly"]),
            "scale_x": float(row["scale_x"]),
            "scale_y": float(row["scale_y"]),
            "skew_x": float(row["skew_x"]),
            "skew_y": float(row["skew_y"]),
            "srid": int(row["srid"]),
        }


def rs_from_arc_info_ascii_grid(bin_col: Column) -> Column:
    """RS_FromArcInfoAsciiGrid: binary (ASCII text) -> raster struct."""

    @F.pandas_udf(RASTER_SCHEMA)
    def _f(s: pd.Series) -> pd.DataFrame:
        rows = []
        for b in s:
            text = bytes(b).decode("ascii")
            rows.append(_raster_to_row(parse_arc_grid(text)))
        return pd.DataFrame(
            rows,
            columns=[
                "bands", "width", "height", "ulx", "uly",
                "scale_x", "scale_y", "skew_x", "skew_y", "srid",
            ],
        )

    return _f(bin_col)


def rs_as_arc_grid(raster_col: Column, band: int = 1) -> Column:
    """RS_AsArcGrid: raster struct -> ASCII grid bytes (one band)."""

    @F.pandas_udf(BinaryType())
    def _f(s: pd.DataFrame) -> pd.Series:
        return pd.Series(
            [write_arc_grid(r, band=band).encode("ascii") for r in _frame_to_rasters(s)]
        )

    return _f(raster_col)


def rs_from_geotiff(bin_col: Column) -> Column:
    """RS_FromGeoTiff: GeoTIFF bytes -> raster struct (native classic-TIFF
    parser; compressions other than raw/Deflate/LZW/PackBits raise)."""

    @F.pandas_udf(RASTER_SCHEMA)
    def _f(s: pd.Series) -> pd.DataFrame:
        rows = [_raster_to_row(decode_geotiff(bytes(b))) for b in s]
        return pd.DataFrame(
            rows,
            columns=[
                "bands", "width", "height", "ulx", "uly",
                "scale_x", "scale_y", "skew_x", "skew_y", "srid",
            ],
        )

    return _f(bin_col)


def rs_as_geotiff(raster_col: Column, dtype: str = "float32") -> Column:
    """RS_AsGeoTiff: raster struct -> GeoTIFF bytes (uncompressed float32
    by default, like the reference's default writer profile)."""

    @F.pandas_udf(BinaryType())
    def _f(s: pd.DataFrame) -> pd.Series:
        return pd.Series(
            [encode_geotiff(r, dtype=dtype) for r in _frame_to_rasters(s)]
        )

    return _f(raster_col)


def rs_base64(
    height: Column,
    width: Column,
    band1: Column,
    band2: Column,
    band3: Column,
    band4: Column | None = None,
) -> Column:
    """RS_Base64 (IO.scala:160-237): base64 PNG of 3 (RGB) or 4 (RGBA over
    white, since the engine's PNG encoder emits RGB) double bands, values
    clamped to [0, 255]."""
    from incubator_sedona_spark.sources.images import encode_png

    cols = [height.cast("int"), width.cast("int"), band1, band2, band3]
    if band4 is not None:
        cols.append(band4)

    @F.pandas_udf(StringType())
    def _f(*series: pd.Series) -> pd.Series:
        hs, ws = series[0], series[1]
        out = []
        for i in range(len(hs)):
            h, w = int(hs.iloc[i]), int(ws.iloc[i])
            rgb = np.stack(
                [np.asarray(series[j].iloc[i], dtype=np.float64).reshape(h, w)
                 for j in (2, 3, 4)],
                axis=2,
            )
            if len(series) == 6:  # alpha over white background
                a = np.asarray(series[5].iloc[i], dtype=np.float64).reshape(h, w, 1)
                a = np.clip(a, 0.0, 255.0) / 255.0
                rgb = rgb * a + 255.0 * (1.0 - a)
            png = encode_png(np.clip(rgb, 0.0, 255.0).astype(np.uint8))
            out.append(base64.b64encode(png).decode("ascii"))
        return pd.Series(out)

    return _f(*cols)


def rs_html(base64_col: Column, image_width: str = "200") -> Column:
    """RS_HTML (IO.scala:240-263): '<img src="data:image/png;base64,..."
    width="..." />' — pure Catalyst concat."""
    return F.concat(
        F.lit('<img src="data:image/png;base64,'),
        base64_col,
        F.lit(f'" width="{image_width}" />'),
    )


# -- GeoTiff DataFrame source / sink ------------------------------------------


def read_geotiff_table(spark, path: str, drop_invalid: bool = False):
    """GeoTiff DF source (the reference's spark.read.format("geotiff"),
    sql/common/.../io/raster/GeotiffFileFormat.scala) as a composition of
    Spark's built-in distributed binaryFile source + the native TIFF parser:

        binaryFile scan (path/modificationTime/length/content, predicate
        pushdown on path globs) -> rs_from_geotiff -> raster struct

    Output: (path string, raster RASTER_SCHEMA).  ``drop_invalid`` mirrors
    the reference reader option of the same name: unparseable files are
    dropped instead of failing the scan (GeotiffFileFormat readOptions).
    Each file decodes inside the executor that read it — bytes never move
    twice; at warehouse scale the binaryFile source splits by file, so
    parallelism = file count (the same unit the reference uses).
    """
    bin_df = spark.read.format("binaryFile").load(path)
    if not drop_invalid:
        return bin_df.select(
            F.col("path"), rs_from_geotiff(F.col("content")).alias("raster")
        )

    @F.pandas_udf(RASTER_SCHEMA)
    def _f_or_null(s: pd.Series) -> pd.DataFrame:
        cols = [
            "bands", "width", "height", "ulx", "uly",
            "scale_x", "scale_y", "skew_x", "skew_y", "srid",
        ]
        rows = []
        for b in s:
            try:
                rows.append(_raster_to_row(decode_geotiff(bytes(b))))
            except Exception:
                rows.append((None,) * len(cols))
        return pd.DataFrame(rows, columns=cols)

    out = bin_df.select(
        F.col("path"), _f_or_null(F.col("content")).alias("raster")
    )
    return out.where(F.col("raster.width").isNotNull())


def write_geotiff_table(df, out_dir: str, raster_col: str = "raster",
                        name_col: str = "path", dtype: str = "float32") -> int:
    """GeoTiff sink: one .tif file per row, encoded and written executor-side
    by one ``mapInPandas`` (the reference's dropbox-style per-record image
    sink).  Returns the number of distinct files this call wrote; rows that
    share a file name write one file, and files already in ``out_dir`` are
    not counted."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    rasters = df.select(F.col(name_col).alias("__name"), F.col(raster_col).alias("__r"))

    def _write(batches):
        for pdf in batches:
            names = []
            for name, r in zip(pdf["__name"], _frame_to_rasters(pdf)):
                base = os.path.basename(str(name)) or "raster"
                if not base.endswith(".tif"):
                    base = base.rsplit(".", 1)[0] + ".tif" if "." in base else base + ".tif"
                with open(os.path.join(out_dir, base), "wb") as f:
                    f.write(encode_geotiff(r, dtype=dtype))
                names.append(base)
            yield pd.DataFrame({"name": names}, dtype=object)

    written = rasters.select("__name", "__r.*").mapInPandas(_write, schema="name string")
    return written.distinct().count()
